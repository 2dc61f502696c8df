package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ShingleHashes
import graft.ops.{Dedup, Similarity, TextOps}

class PipelineOpsSpec extends AnyFunSuite with SparkSpecBase {

  private lazy val docs = Tables.load(spark, sf, "documents").cache()
  private lazy val emb = Tables.load(spark, sf, "embeddings").cache()

  test("fused ShingleHashes equals composed built-ins") {
    val fused = docs.select(col("doc_id"),
      ShingleHashes(col("text"), 3, distinct = false).as("h"))
    val composed = docs
      .filter(size(TextOps.tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        transform(TextOps.shingles(TextOps.tokens(col("text")), 3),
          s => TextOps.hex32(s)).as("h"))
    val j = fused.join(composed, "doc_id")
      .filter(fused("h") =!= composed("h"))
    assert(j.count() == 0)
    // fused also emits empty (not null) arrays for short docs
    assert(fused.filter(col("h").isNull).count() == 0)
  }

  test("wide ShingleHashes equals composed hex64 built-ins, 63-bit range") {
    val fused = docs.select(col("doc_id"),
      ShingleHashes(col("text"), 2, distinct = false, wide = true).as("h"))
    val composed = docs
      .filter(size(TextOps.tokens(col("text"))) >= 2)
      .select(col("doc_id"),
        transform(TextOps.shingles(TextOps.tokens(col("text")), 2),
          s => TextOps.hex64(s)).as("h"))
    val j = fused.join(composed, "doc_id")
      .filter(fused("h") =!= composed("h"))
    assert(j.count() == 0)
    // always non-negative (top bit cleared) and wider than 32 bits for
    // at least some grams — i.e. actually using the extra width
    val stats = fused.select(explode(col("h")).as("v"))
      .agg(min("v").as("mn"), max("v").as("mx")).head
    assert(stats.getLong(0) >= 0L)
    assert(stats.getLong(1) > (1L << 32))
    // JVM kernel agrees with the column form bit-for-bit
    val s = "the quick brown fox jumps over the lazy dog"
    val jvm = ShingleHashes.hashes64(s, 2, distinct = false)
    val viaMd5 = ShingleHashes.hashes(s, 2, distinct = false)
    assert(jvm.forall(_ >= 0L))
    // low 32 bits of the wide key differ from the narrow key (different
    // md5 bytes), but both derive from the same digest: cross-check one
    // shingle by hand
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest("the quick".getBytes("UTF-8"))
    val expect = ((d(0) & 0x7fL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    assert(jvm(0) == expect)
    // the narrow key is untouched by the refactor: bytes 0–3 unsigned
    assert(viaMd5(0) == (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)))
  }

  test("m5 dhash kernel: byte windows verified on multi-byte UTF-8 docs") {
    // r15: the kernel hashes the HEX of each byte slice (so the DuckDB
    // oracle expresses the identical byte window via hex(encode(text))
    // — multi-byte corpora are first-class now, replacing the pre-r15
    // single-byte-corpus guard). Verify the full 72-sample pipeline on
    // multi-byte docs against an independent JVM re-derivation of the
    // byte arithmetic.
    import spark.implicits._
    val texts = Seq(
      (1L, "héllo wörld ünïcode " * 7), // 2-byte seqs, stride splits them
      (2L, "日本語のテキスト標本" * 5), // 3-byte seqs
      (3L, "mixed ascii and 🎉 emoji 🚀" * 4), // 4-byte seqs
      (4L, "plain single byte text only " * 6))
    val df = texts.toDF("doc_id", "text")
    val got = graft.ops.Multimodal
      .dhashSignatures(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (0 until 4).map(i => r.getLong(i + 1))).toMap
    def hex32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val d = md.digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    texts.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val hexAll = bytes.map(b => f"${b & 0xff}%02X").mkString
      val stride = (bytes.length + 71) / 72
      val clen = math.max(bytes.length, 1)
      val px = (0 until 72).map { k =>
        val start0 = (k * stride) % clen // 0-based byte offset
        val slice = hexAll.slice(start0 * 2,
          math.min(start0 * 2 + stride * 2, hexAll.length))
        math.floorMod(hex32("px|" + slice), 256L)
      }
      val expect = (0 until 4).map { b =>
        (0 until 16).map { j =>
          val i = b * 16 + j; val r = i / 8; val c = i % 8
          if (px(r * 9 + c) > px(r * 9 + c + 1)) 1L << j else 0L
        }.sum
      }
      assert(got(id) == expect, s"doc $id signature mismatch")
    }
  }

  test("reliable materialize mode: identical results, lineage kept, cache released") {
    // the reliable mode is the only materialization mode: the shared
    // occurrence table is persisted + eagerly counted (lineage kept, so
    // a lost executor's blocks recompute) and released by CacheHooks
    // once the first consuming action completes — repeated queries in
    // one session must not accumulate cached gram tables, and a rebuild
    // after the release returns bit-identical rows.
    // Track OUR RDD ids, not the global count: the full suite runs specs
    // in parallel against the shared session, and another spec
    // persisting mid-window would flake a count-based check
    def ids: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // fill the spec's own cached input first, so its RDD is not counted
    // among the operator's tables when this test runs first
    docs.count()
    def released(added: Set[Int], run: Int): Unit = {
      val deadline = System.currentTimeMillis + 30000
      while ((ids & added).nonEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert((ids & added).isEmpty,
        s"run $run: gram tables still cached (${(ids & added).size} of " +
          s"${added.size}) 30s after the first action — the release hooks " +
          "are not firing")
    }
    def run(n: Int): Seq[String] = {
      val before = ids
      val q = TextOps.knBigramScore(docs, col("text"), col("doc_id"))
      val added = ids -- before
      assert(added.nonEmpty, "occurrence table should be cached during build")
      for (id <- added; rdd <- spark.sparkContext.getPersistentRDDs.get(id)) {
        assert(!rdd.isCheckpointed, s"rdd $id lost its lineage to a checkpoint")
        assert(rdd.dependencies.nonEmpty, s"rdd $id has no lineage")
      }
      val rows = q.collect().map(_.toString).toSeq.sorted
      assert(rows.nonEmpty)
      released(added, n)
      rows
    }
    assert(run(1) == run(2), "a rebuild after release must return identical rows")
  }

  test("ShingleHashes distinct preserves set semantics") {
    val h = ShingleHashes.hashes("a b a b a b a b", 3, distinct = false)
    val d = ShingleHashes.hashes("a b a b a b a b", 3, distinct = true)
    assert(h.length == 6 && d.length == 2 && d.toSet == h.toSet)
  }

  test("exact dedup finds no dups in distinct corpus, finds planted dup") {
    import spark.implicits._
    val planted = docs.select(col("doc_id"), col("text"))
      .union(Seq((999999L, docs.select("text").head.getString(0))).toDF())
    val res = Dedup.exact(planted, col("text"), col("doc_id"))
    assert(res.count() == docs.count()) // one hash collapsed two ids
    assert(res.agg(sum(col("n_docs"))).head.getLong(0) == docs.count() + 1)
  }

  test("bloomNovel: no false negatives, planted dup suppressed") {
    import spark.implicits._
    val ref = Seq((0L, "the quick brown fox"), (2L, "pack my box")).toDF("doc_id", "text")
    val probe = Seq(
      (1L, "THE  quick, brown FOX"), // token-normalizes to a ref doc
      (3L, "a document nobody has seen before")).toDF("doc_id", "text")
    val novel = Dedup.bloomNovel(ref, probe, col("text"), col("doc_id"))
      .as[Long].collect()
    assert(!novel.contains(1L), "duplicate must never be reported novel")
    assert(novel.contains(3L))
  }

  test("bloomNovel matches exact anti-join on the corpus (FP-free at this n/m)") {
    import spark.implicits._
    val ref = docs.filter(col("doc_id") % 2 === 0)
    val probe = docs.filter(col("doc_id") % 2 === 1)
    val novel = Dedup.bloomNovel(ref, probe, col("text"), col("doc_id"))
      .as[Long].collect().toSet
    val norm = (d: org.apache.spark.sql.DataFrame) =>
      d.select(col("doc_id"), concat_ws(" ", TextOps.tokens(col("text"))).as("n"))
    val exact = norm(probe).join(norm(ref).select("n").distinct(),
        Seq("n"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    // bloom ⊆ exact always (no false negatives); equality here because at
    // ~250 inserts into 2^18 bits the FP probability is ~1e-10
    assert(novel == exact)
  }

  test("tfidf: rare term outranks common term within a doc") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple banana banana"), (2L, "banana cherry"),
      (3L, "banana date")).toDF("doc_id", "text")
    val top = TextOps.tfidfTopTerms(d, col("text"), col("doc_id"), k = 2)
      .filter(col("doc_id") === 1).select("term").as[String].collect()
    // 'apple' df=1 beats 'banana' df=3 even at tf 1 vs 2:
    // 1*(3e6/1) > 2*(1e6/1... 3e6/3=1e6 → 2e6)
    assert(top.head == "apple")
    assert(top.toSeq == Seq("apple", "banana"))
  }

  test("bm25TopK: exact-match doc ranks first; longer docs penalized") {
    import spark.implicits._
    val d = Seq(
      (1L, "quick brown fox jumps"),
      (2L, "quick brown fox jumps " + "filler words here only " * 20),
      (3L, "unrelated text about databases and storage engines"),
      (4L, "the quick dog")).toDF("doc_id", "text")
    val q = Seq((100L, "quick brown fox")).toDF("qid", "qt")
    val res = TextOps.bm25TopK(d, col("text"), col("doc_id"),
      q, col("qt"), col("qid"), k = 3).orderBy("rk").collect()
    // doc 1 has all three terms at minimal length -> rank 1; doc 2 has
    // the same terms but BM25 length normalization pushes it below; doc 4
    // shares only "quick"; doc 3 never appears
    assert(res.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 4L))
    assert(res.map(_.getAs[Long]("rk")).toSeq == Seq(1L, 2L, 3L))
    val scores = res.map(_.getAs[Long]("score_ppm"))
    assert(scores(0) > scores(1) && scores(1) > scores(2))
  }

  test("rrfFuse: doc ranked by both systems beats single-system docs") {
    import spark.implicits._
    val sys1 = Seq((1L, 10L, 1L), (1L, 11L, 2L)).toDF("query_id", "doc_id", "rk")
    val sys2 = Seq((1L, 10L, 2L), (1L, 12L, 1L)).toDF("query_id", "doc_id", "rk")
    val fused = Similarity.rrfFuse(Seq(sys1, sys2), kRrf = 60, topK = 10)
      .collect()
    // doc 10: 1e6/61 + 1e6/62 = 16393+16129=32522; doc 12: 16393; doc 11: 16129
    assert(fused.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((1L, 10L, 32522L), (2L, 12L, 16393L), (3L, 11L, 16129L)))
  }

  test("nbClassify: separable vocab is classified perfectly") {
    import spark.implicits._
    // doc 7 has a null label: it stays out of the model (a null map key
    // would throw) but is still scored against the labelled classes
    val d = Seq[(Long, String, String)](
      (1L, "aa aa bb", "x"), (2L, "aa bb bb", "x"), (3L, "aa aa aa", "x"),
      (4L, "cc cc dd", "y"), (5L, "cc dd dd", "y"), (6L, "dd dd dd", "y"),
      (7L, "aa aa bb", null))
      .toDF("doc_id", "text", "lang")
    val res = TextOps.nbClassify(d, col("text"), col("doc_id"), col("lang"))
    assert(res.agg(sum("hit")).head.getLong(0) == 6L)
    val unlabelled = res.filter(col("doc_id") === 7L).head
    assert(unlabelled.getAs[String]("pred") == "x")
    assert(unlabelled.isNullAt(unlabelled.fieldIndex("hit")))
  }

  test("nbClassify: model-join strategy and minDf vocabulary cut preserve scores") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa aa bb", "x"), (2L, "aa bb bb", "x"), (3L, "aa aa aa", "x"),
      (4L, "cc cc dd", "y"), (5L, "cc dd dd", "y"), (6L, "dd dd dd", "y"))
      .toDF("doc_id", "text", "lang")
    def run() = TextOps.nbClassify(d, col("text"), col("doc_id"), col("lang"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // the (class, term) model join must give bit-identical predictions
    // whether AQE broadcasts it or shuffles it (forced here by disabling
    // auto-broadcast) — the 100 TB fallback path
    val broadcastRes = run()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffleRes = try run()
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(shuffleRes == broadcastRes)
    // every term above has df >= 2, so a minDf=2 cut is a no-op —
    // pins that the cut keeps boundary terms (df == minDf)
    val cut = TextOps.nbClassify(d, col("text"), col("doc_id"), col("lang"),
      minDf = 2).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(cut == broadcastRes)
    // singleton terms drop from the model: with 'zz' appearing once, a
    // minDf=2 model treats it as unseen but still classifies doc 7 by
    // its in-vocab 'aa' tokens
    val d2 = d.union(Seq((7L, "aa aa zz", "x")).toDF("doc_id", "text", "lang"))
    val cut2 = TextOps.nbClassify(d2, col("text"), col("doc_id"),
      col("lang"), minDf = 2)
    assert(cut2.filter(col("doc_id") === 7L).head.getString(1) == "x")
    assert(cut2.agg(sum("hit")).head.getLong(0) == 7L)
  }

  test("embeddingNearDup: exact under cap; hot block banding keeps identical pairs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val baseVecs = (0 until 40).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // every base vector appears twice (ids i and i+1000) in ONE block
    val rows = baseVecs.flatMap { case (i, v) =>
      Seq((i.toLong, v.toSeq), (i + 1000L, v.toSeq))
    }
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("block", lit("hot"))
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && cos(va, vb) >= 0.999
    } yield (ia, ib)).toSet
    assert(expected.size == 40, "seed sanity: only the planted twins")
    def run(cap: Int): Set[(Long, Long)] =
      Dedup.embeddingNearDup(df, col("embedding"), col("vec_id"),
        col("block"), threshold = 0.999, maxBlockExact = cap)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // under the cap: the all-pairs oracle shape, bit-exact
    assert(run(1000) == expected)
    // over the cap: banding pre-filter — identical vectors agree on
    // every sign band, so all twins survive; cosine verify keeps
    // precision exact
    assert(run(5) == expected)
  }

  test("minhash candidates is symmetric-free and ordered") {
    val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id")).collect()
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("sharedSpans finds the planted span; stripSharedSpans removes it") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"common$i").mkString(" ") // 10 tokens
    val df = Seq(
      (1L, s"one two three $boiler four five six"),
      (2L, s"seven eight nine ten $boiler eleven"),
      (3L, "twelve thirteen fourteen fifteen sixteen seventeen")
    ).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(df, col("text"), col("doc_id"),
      shingleK = 5, minSpan = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: boiler covers tokens 4..13; duplicated 5-gram starts 4..9
    // doc 2: boiler covers tokens 5..14; starts 5..10; doc 3: nothing
    assert(spans.toSeq == Seq((1L, 4L, 13L, 10L), (2L, 5L, 14L, 10L)))
    val cleaned = Dedup.stripSharedSpans(df, col("text"), col("doc_id"),
      shingleK = 5, minSpan = 8).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(cleaned(1L) == "one two three four five six")
    assert(cleaned(2L) == "seven eight nine ten eleven")
    assert(cleaned(3L) == "twelve thirteen fourteen fifteen sixteen seventeen")
  }

  test("bigramLikelihood integer ppm scores match hand computation") {
    import spark.implicits._
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val r = TextOps.bigramLikelihood(df, col("text"), col("doc_id"))
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // c1: a=3 b=3 c=1; c2: "a b"=3 "b a"=1 "b c"=1
    // doc1 qs = [1000000, 333333, 1000000] → 2333333 div 3 = 777777
    // doc2 qs = [1000000, 333333] → 1333333 div 2 = 666666
    assert(r == Seq((1L, 777777L, 3L), (2L, 666666L, 2L)))
  }

  test("knBigramScore: Kneser-Ney ppm matches hand computation and normalizes") {
    import spark.implicits._
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val r = TextOps.knBigramScore(df, col("text"), col("doc_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    // histories: c(a·)=3; c12: ab=2 ac=1; types (a,b),(a,c): u1(a)=2,
    // u2(b)=u2(c)=1, B=2; D=0.75 carried ×4:
    //  ab: (1e6·max(8−3,0))//12 + ((750000·2)//3 · (1e6·1)//2)//1e6
    //      = 416666 + 250000 = 666666
    //  ac: (1e6·max(4−3,0))//12 + 250000 = 83333 + 250000 = 333333
    // Σ_w2 P(w2|a) ≈ 1 — the discount mass is fully redistributed
    assert(r == Seq((1L, 666666L, 1L), (2L, 666666L, 1L), (3L, 333333L, 1L)))
  }

  test("leakageSafeSplit keeps near-dup groups on one side") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("text"))
    // plant exact duplicates of 20 docs at shifted ids — every planted
    // pair must land in the same split
    val dups = base.filter(col("doc_id") < 20)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val all = base.union(dups)
    val groups = Dedup.resolveGroups(
      Dedup.minhashCandidates(all, col("text"), col("doc_id"), star = true))
    val split = graft.ops.Pack.leakageSafeSplit(all, col("doc_id"), groups,
      validPermille = 300).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    (0L until 20L).foreach { i =>
      assert(split(i) == split(i + 100000L), s"pair $i straddles the split")
    }
    val nValid = split.values.count(_ == "valid")
    assert(nValid > 0 && nValid < split.size)
  }

  test("minhash star expansion preserves connected components") {
    val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"))
    val starred = Dedup.minhashCandidates(docs, col("text"), col("doc_id"),
      star = true)
    // star emits a subset of the all-pairs edges…
    val all = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val st = starred.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(st.subsetOf(all))
    // …with identical group resolution (what the dedup pipeline consumes)
    val g1 = Dedup.resolveGroups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g2 = Dedup.resolveGroups(starred).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g1 == g2)
  }

  test("incremental band-index candidates equal the full-recompute delta") {
    val corpus = docs.filter(col("doc_id") < 400).select("doc_id", "text")
    val batch = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
    Dedup.writeBandIndex(corpus, col("text"), col("doc_id"),
      "band_index_spec", nBuckets = 8)
    val inc = Dedup.incrementalCandidates(batch, col("text"), col("doc_id"),
      "band_index_spec")
    // full recompute over corpus ∪ batch, restricted to pairs touching
    // a new doc, must equal the incremental answer
    val full = Dedup.minhashCandidates(docs, col("text"), col("doc_id"))
      .filter(col("doc_a") >= 400 || col("doc_b") >= 400)
    val a = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = full.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // the indexed (big) side must not shuffle: every Exchange in the
    // vs-corpus join sits on the batch side, none above the table scan
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      s"expected bucketed scan in plan:\n$plan")
  }

  test("incrementalDedup over streaming micro-batches equals one-shot batch dedup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val all = docs.filter(col("doc_id") < 300).select("doc_id", "text")
    // seed the index with the first 100 docs; stream the rest in 2 batches
    Dedup.writeBandIndex(all.filter(col("doc_id") < 100),
      col("text"), col("doc_id"), "band_index_stream", nBuckets = 8)
    val rows = all.filter(col("doc_id") >= 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val survivors = scala.collection.mutable.ArrayBuffer[Long]()
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        survivors ++= Dedup.incrementalDedup(batch, col("text"),
          col("doc_id"), "band_index_stream")
          .select("doc_id").collect().map(_.getLong(0))
        ()
      }.start()
    try {
      val (b1, b2) = rows.sortBy(_._1).splitAt(rows.length / 2)
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    // one-shot equivalent: candidates over all 300, docs >= 100 that
    // near-dup ANY smaller doc are dropped
    val dropped = Dedup.minhashCandidates(all, col("text"), col("doc_id"))
      .filter(col("doc_b") >= 100).select("doc_b").distinct()
      .collect().map(_.getLong(0)).toSet
    val expected = rows.map(_._1).filterNot(dropped).sorted
    assert(survivors.sorted.toSeq == expected.toSeq)
  }

  test("jaccard pairs have jaccard in [0.5, 1]") {
    val r = Dedup.ngramJaccardPairs(docs, col("text"), col("doc_id"),
      concat(col("lang"), lit("|"), floor(col("n_chars") / 100).cast("long").cast("string")))
      .collect()
    assert(r.forall(x => x.getDouble(2) >= 0.5 && x.getDouble(2) <= 1.0))
  }

  test("ngramJaccardPairs posting cap drops only stop-shingle-bonded pairs") {
    import spark.implicits._
    // docs 1,2 genuinely near-dup; docs 10..29 share ONLY one boilerplate
    // phrase (a hot posting of 20 docs) plus unique filler
    val boiler = "all rights reserved worldwide"
    val rows =
      Seq((1L, "alpha beta gamma delta epsilon zeta"),
          (2L, "alpha beta gamma delta epsilon eta")) ++
      (10L until 30L).map(i => (i, s"$boiler unique$i filler$i tail$i"))
    val df = rows.toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(df, col("text"), col("doc_id"),
      lit("b"), threshold = 0.0).collect()
    val capped = Dedup.ngramJaccardPairs(df, col("text"), col("doc_id"),
      lit("b"), threshold = 0.0, maxPostings = 5).collect()
    // uncapped: the (1,2) pair plus all 190 boilerplate-only pairs
    assert(uncapped.length == 1 + 190)
    // capped: hot postings dropped before expansion — only (1,2) survives,
    // with its jaccard unchanged (its shingles' postings are small)
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    val j = uncapped.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get.getDouble(2)
    assert(capped.head.getDouble(2) == j)
  }

  test("simhash of identical texts collide, fingerprint stable") {
    val a = ShingleHashes.hashes("spark hash join window", 1, distinct = false)
    assert(a.sameElements(ShingleHashes.hashes("spark hash join window", 1, distinct = false)))
    val fps = docs.limit(5).select(TextOps.fingerprint(col("text"))).collect()
    assert(fps.forall(_.getString(0).length == 32))
  }

  test("bruteForceTopK: k rows per query, self excluded, ranked desc") {
    val res = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "embedding", "vec_id", 4).collect()
    assert(res.length == 12)
    val byQ = res.groupBy(_.getLong(0))
    byQ.foreach { case (q, rows) =>
      assert(rows.forall(_.getLong(1) != q))
      val cosines = rows.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
  }

  test("kmeansFit recovers cluster structure and feeds trained IVF") {
    import spark.implicits._
    // three tight clusters around orthogonal axes
    def jitter(base: Seq[Double], i: Int): Seq[Double] =
      base.zipWithIndex.map { case (x, d) => x + 0.01 * ((i + d) % 5) }
    val rows = (0 until 30).map { i =>
      val base = (i % 3) match {
        case 0 => Seq(10.0, 0.0, 0.0)
        case 1 => Seq(0.0, 10.0, 0.0)
        case _ => Seq(0.0, 0.0, 10.0)
      }
      (i.toLong, jitter(base, i).map(_.toFloat).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansFit(df, "embedding", "vec_id", 3, iters = 4)
    // each trained centroid is dominated by exactly one axis, all axes hit
    val axes = cents.map(_.zipWithIndex.maxBy(_._1)._2).toSet
    assert(axes == Set(0, 1, 2))
    assert(cents.forall(_.max > 8.0))
    // trained codebook drives IVF: each query's top-1 is a same-cluster id
    val res = Similarity.ivfTopK(df, df.filter(col("vec_id") < 3),
      "embedding", "vec_id", 1, centroids = Some(cents)).collect()
    assert(res.length == 3)
    res.foreach { r =>
      assert(r.getLong(1) % 3 == r.getLong(0) % 3) // same cluster
    }
  }

  test("materialized IVF index: probe equals ivfTopK and bucket-prunes the scan") {
    val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(Similarity.toDouble(col("embedding"))).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    Similarity.ivfWriteIndex(emb, "embedding", "vec_id", cents,
      "ivf_idx_spec", nBuckets = 4)
    val queries = emb.filter(col("vec_id") < 3)
    val probed = Similarity.ivfProbeIndex(spark, "ivf_idx_spec", queries,
      "embedding", "vec_id", 5, cents, nProbe = 2)
    val direct = Similarity.ivfTopK(emb, queries, "embedding", "vec_id", 5,
      nCells = 4, nProbe = 2, centroids = Some(cents))
    val p = probed.orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val d = direct.orderBy("query_id", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(p.toSeq == d.toSeq) // same rows, bit-identical cosines, same order
    // the probe reads only the buckets its cells hash to — pruning is in the scan
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("SelectedBucketsCount"),
      s"expected bucket pruning in scan:\n$scan")
  }

  test("ivfAppendIndex: append equals full rebuild, no index re-shuffle") {
    val cents = emb.filter(col("vec_id") < 4).orderBy("vec_id")
      .select(Similarity.toDouble(col("embedding"))).collect()
      .map(_.getSeq[Double](0).toSeq).toSeq
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    Similarity.ivfWriteIndex(half, "embedding", "vec_id", cents,
      "ivf_idx_incr", nBuckets = 4)
    Similarity.ivfAppendIndex(rest, "embedding", "vec_id", cents,
      "ivf_idx_incr")
    Similarity.ivfWriteIndex(emb, "embedding", "vec_id", cents,
      "ivf_idx_full", nBuckets = 4)
    val queries = emb.filter(col("vec_id") < 3)
    def run(t: String) = Similarity.ivfProbeIndex(spark, t, queries,
      "embedding", "vec_id", 5, cents, nProbe = 2)
      .orderBy("query_id", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(run("ivf_idx_incr").toSeq == run("ivf_idx_full").toSeq)
  }

  test("Series.patternMatch finds the planted window at distance zero") {
    import spark.implicits._
    val pts = Seq.tabulate(20)(i => ("a", i.toLong, 5L)) ++
      Seq(("b", 0L, 5L), ("b", 1L, 9L), ("b", 2L, 7L), ("b", 3L, 5L)) ++
      Seq.tabulate(10)(i => ("b", i + 4L, 5L))
    val df = pts.toDF("k", "t", "v")
    val out = graft.ops.Series.patternMatch(df, col("k"), col("t"), col("v"),
      pattern = Seq(9L, 7L, 5L), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // exact occurrence at b@1; every 'a' window distance = (5-9)²+(5-7)²+0 = 20
    assert(out.head == (("b", 1L, 0L)))
    assert(out.tail.forall(_._3 > 0L))
    assert(out(1) == (("b", 2L, 8L)))  // (7,5,5): 4+4+0
    assert(out(2) == (("a", 0L, 20L))) // a-windows tie, key+start break
  }

  test("lsh buckets agree between corpus and query side") {
    val res = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3),
      "embedding", "vec_id", 3)
    // every returned neighbor must share the query's bucket → cosine defined
    assert(res.collect().forall(r => !r.isNullAt(2)))
  }

  test("multimodal stub decode is deterministic and bounded") {
    val media = graft.ops.Multimodal.asMedia(docs.limit(50), col("doc_id"), col("text"), "image")
    val meta = graft.ops.Multimodal.extractMeta(media).collect()
    assert(meta.forall { r =>
      val (w, h, f) = (r.getInt(2), r.getInt(3), r.getInt(4))
      w >= 1 && w <= 512 && h >= 1 && h <= 512 && f >= 1 && f <= 30
    })
    import spark.implicits._
    val ds = media.select(col("media_id"), col("kind"), col("payload"))
      .as[graft.ops.Multimodal.MediaRow]
    val decoded = graft.ops.Multimodal.decodePartition(ds).collect()
    assert(decoded.length == 50 && decoded.forall(_.features.length == 8))
  }

  test("real container headers parse: png/jpeg/gif/bmp/wav") {
    import graft.functions.MediaHeaders
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def be32(v: Int) = b(v >>> 24, (v >> 16) & 0xff, (v >> 8) & 0xff, v & 0xff)
    def le32(v: Int) = b(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff, v >>> 24)
    def le16(v: Int) = b(v & 0xff, (v >> 8) & 0xff)
    val png = b(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++ b(8, 6, 0, 0, 0)
    assert(MediaHeaders.parse(png).contains(
      MediaHeaders.MediaInfo("png", 640, 480, 0, 0, 0L)))
    // JPEG: SOI, APP0 (16 bytes), SOF0 with h=600 w=800
    val jpeg = b(0xff, 0xd8) ++ b(0xff, 0xe0, 0x00, 0x10) ++
      Array.fill[Byte](14)(0) ++
      b(0xff, 0xc0, 0x00, 0x11, 8) ++ b(0x02, 0x58) ++ b(0x03, 0x20) ++
      Array.fill[Byte](10)(0)
    assert(MediaHeaders.parse(jpeg).contains(
      MediaHeaders.MediaInfo("jpeg", 800, 600, 0, 0, 0L)))
    val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++ b(0, 0, 0)
    assert(MediaHeaders.parse(gif).contains(
      MediaHeaders.MediaInfo("gif", 320, 200, 0, 0, 0L)))
    // BMP with top-down (negative) height
    val bmp = "BM".getBytes ++ Array.fill[Byte](16)(0) ++
      le32(1024) ++ le32(-768) ++ b(0, 0)
    assert(MediaHeaders.parse(bmp).contains(
      MediaHeaders.MediaInfo("bmp", 1024, 768, 0, 0, 0L)))
    // WAV: 2ch 44100Hz 16-bit, 1s of data (176400 bytes declared)
    val byteRate = 44100 * 2 * 2
    val wav = "RIFF".getBytes ++ le32(36 + byteRate) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(byteRate) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(byteRate)
    assert(MediaHeaders.parse(wav).contains(
      MediaHeaders.MediaInfo("wav", 0, 0, 2, 44100, 1000L)))
    // truncated / non-media bytes stay opaque
    assert(MediaHeaders.parse("plain text payload".getBytes).isEmpty)
    assert(MediaHeaders.parse(png.take(10)).isEmpty)
    // the decode seam surfaces real headers and keeps opaque fallback
    import spark.implicits._
    val rows = Seq(
      graft.ops.Multimodal.MediaRow(1L, "image", png),
      graft.ops.Multimodal.MediaRow(2L, "audio", wav),
      graft.ops.Multimodal.MediaRow(3L, "image", "opaque!!".getBytes))
    val out = graft.ops.Multimodal.decodePartition(rows.toDS())
      .collect().map(r => r.media_id -> r).toMap
    assert(out(1L).format == "png" && out(1L).width == 640 &&
      out(1L).height == 480)
    assert(out(2L).format == "wav" && out(2L).channels == 2 &&
      out(2L).duration_ms == 1000L)
    assert(out(3L).format == "opaque" && out(3L).features.length == 8)
  }

  test("frame sampling and resize planning respect decode metadata") {
    import graft.ops.Multimodal
    val media = Multimodal.asMedia(docs, col("doc_id"), col("text"), "video")
    val meta = Multimodal.extractMeta(media)
      .select("media_id", "width", "height", "n_frames")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
      .toMap
    val frames = Multimodal.sampleFrames(media, step = 7).collect()
    frames.foreach { r =>
      val idx = r.getLong(1)
      assert(idx % 7 == 0 && idx < meta(r.getLong(0))._3)
    }
    // every media row with >= 1 frame appears; indices are dense in step
    assert(frames.map(_.getLong(0)).distinct.length == meta.size)
    val rs = Multimodal.resizePlan(media, maxDim = 256).collect()
    rs.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(ow >= 1 && oh >= 1 && math.max(ow, oh) <= 256)
      val long = math.max(w, h)
      if (long <= 256) assert(ow == w && oh == h)
      else {
        assert(ow == math.max(1, w * 256 / long))
        assert(oh == math.max(1, h * 256 / long))
      }
    }
  }

  test("text metrics are finite and in range") {
    val q = TextOps.qualityMetrics(docs, col("text"), col("doc_id")).collect()
    assert(q.forall { r =>
      r.getDouble(3) >= 0 && r.getDouble(3) <= 1 && r.getDouble(4) <= 1
    })
  }

  test("winnowPairs guarantees detection of long shared substrings") {
    import spark.implicits._
    val shared = (1 to 30).map(i => s"common$i").mkString(" ")
    val d = Seq(
      (1L, s"alpha beta gamma $shared delta"),
      (2L, s"$shared omega psi chi phi"),
      (3L, "entirely different text with no overlap whatsoever at all here"))
      .toDF("id", "text")
    val pairs = Dedup.winnowPairs(d, col("text"), col("id")).collect()
    // the 30-token shared run must surface (guarantee: shared substrings
    // of >= window+k-1 = 6 tokens always share a fingerprint)
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(pairs.head.getLong(2) >= 2)
  }

  test("resolveGroups collapses a chain to its minimum id") {
    import spark.implicits._
    // chain 1-2-3-4 plus isolated pair 10-11: (1,3) never appears as a
    // pair yet both must land in group 1
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val g = Dedup.resolveGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("resolveGroups: convergence needs no listener event") {
    import spark.implicits._
    // a chain deep enough to need several rounds, plus a separate star
    val pairs = ((1L until 40L).map(i => (i, i + 1)) ++
      (101L to 110L).map(i => (100L, i))).toDF("doc_a", "doc_b")
    def groups() = Dedup.resolveGroups(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val normal = groups()
    // hold the listener bus: every round's convergence check must come
    // back from its own job, not from an event queued behind the stall
    @volatile var hold = true
    val stall = new org.apache.spark.sql.util.QueryExecutionListener {
      private def pause(): Unit = {
        val until = System.currentTimeMillis + 5000
        while (hold && System.currentTimeMillis < until) Thread.sleep(20)
      }
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = pause()
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = pause()
    }
    spark.listenerManager.register(stall)
    val stalled = try groups() finally {
      hold = false
      spark.listenerManager.unregister(stall)
    }
    assert(stalled == normal)
    assert(normal(40L) == 1L && normal(110L) == 100L)
  }

  test("resolveGroups group ids are component minima on real candidates") {
    val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"))
    val g = Dedup.resolveGroups(pairs)
    // every group_id is itself a member of its own group (the canonical id)
    val roots = g.select(col("group_id").as("root")).distinct()
    val selfRooted = roots.join(
      g.filter(col("doc_id") === col("group_id")),
      col("root") === col("doc_id"))
    assert(selfRooted.count() == roots.count())
    // and no member is smaller than its group id
    assert(g.filter(col("doc_id") < col("group_id")).count() == 0)
  }

  test("semanticNearDup blocks by cell and bounds cosine") {
    val r = Dedup.semanticNearDup(emb, col("embedding"), col("vec_id"),
      nCells = 8, threshold = 0.4).collect()
    assert(r.forall(x => x.getDouble(3) >= 0.4 && x.getDouble(3) <= 1.0 + 1e-9))
    assert(r.forall(x => x.getLong(1) < x.getLong(2)))
  }

  test("piiRedact scrubs every rule and leaves clean text alone") {
    import spark.implicits._
    val d = Seq(
      "mail a.b+c@x-y.org now",
      "ssn 123-45-6789 ok",
      "host 192.168.0.1 up",
      "card 4111111111111111 paid",
      "call +1 555 123 4567 today",
      "nothing sensitive here").toDF("t")
    val out = d.select(TextOps.piiRedact(col("t"))).as[String].collect()
    assert(out(0) == "mail <EMAIL> now")
    assert(out(1) == "ssn <SSN> ok")
    assert(out(2) == "host <IP> up")
    assert(out(3) == "card <CC> paid")
    assert(out(4) == "call <PHONE> today")
    assert(out(5) == "nothing sensitive here")
  }

  test("stratifiedSample is deterministic and rate-proportional") {
    val s1 = TextOps.stratifiedSample(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.5), defaultRate = 0.1)
    val s2 = TextOps.stratifiedSample(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.5), defaultRate = 0.1)
    assert(s1.count() == s2.count()) // seedless: identical under re-run
    val en = docs.filter(col("lang") === "en").count()
    val enKept = s1.filter(col("lang") === "en").count()
    // 50% target with md5-uniform selection: allow wide tolerance
    assert(enKept > en * 3 / 10 && enKept < en * 7 / 10)
  }

  test("temperatureMix downsamples toward w^(1/T) proportions") {
    // T=1 keeps the raw weights; the heaviest source keeps everything
    val t1 = TextOps.temperatureMix(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.6, "de" -> 0.15), temperature = 1.0)
    assert(t1.filter(col("lang") === "en").count() ==
      docs.filter(col("lang") === "en").count())
    // de keep-rate .15/.6 = 25%; md5-uniform selection, wide tolerance
    val de = docs.filter(col("lang") === "de").count()
    val deKept = t1.filter(col("lang") === "de").count()
    assert(deKept > de / 10 && deKept < de * 2 / 5, s"$deKept of $de")
    // unlisted sources are dropped entirely
    assert(t1.filter(col("lang") === "zh").count() == 0)
    // higher temperature flattens: de keeps MORE than at T=1
    val t4 = TextOps.temperatureMix(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.6, "de" -> 0.15), temperature = 4.0)
    assert(t4.filter(col("lang") === "de").count() > deKept)
    // deterministic: same inputs, same rows
    val again = TextOps.temperatureMix(docs, col("lang"), col("doc_id"),
      Map("en" -> 0.6, "de" -> 0.15), temperature = 1.0)
    assert(again.count() == t1.count())
  }

  test("chunkTokens covers all tokens with the declared overlap") {
    import spark.implicits._
    val d = Seq((1L, (1 to 95).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val c = TextOps.chunkTokens(d, col("text"), col("id"), chunkSize = 40, overlap = 10)
      .orderBy("chunk_idx").collect()
    // 95 tokens, starts 1,31,61 → chunks of 40,40,35
    assert(c.map(_.getInt(1)).toSeq == Seq(0, 1, 2))
    assert(c.map(_.getInt(2)).toSeq == Seq(40, 40, 35))
    // fingerprints differ (different token ranges)
    assert(c.map(_.getString(3)).distinct.length == 3)
  }

  test("prefixSum equals the single-partition window on every row") {
    import spark.implicits._
    // sparse, shuffled ids across many buckets; values include 0
    val rows = scala.util.Random.shuffle(
      (0 until 1000).map(i => (i * 37L + (i % 3), (i % 7).toLong)))
    val df = rows.toDF("id", "v").repartition(13)
    val got = graft.ops.Pack.prefixSum(df, "id", "v", buckets = 16)
      .select("id", "prev_cumsum").as[(Long, Long)].collect().toMap
    val want = rows.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (id, v)) => (id, acc + v) }
      .sliding(2).map { case Seq((_, prev), (id, _)) => id -> prev }.toMap
    assert(got.size == 1000 && got == want)
  }

  test("prefixSum edge cases: empty, one bucket, negative sparse ids") {
    import spark.implicits._
    val empty = graft.ops.Pack.prefixSum(
      Seq.empty[(Long, Long)].toDF("id", "v"), "id", "v")
    assert(empty.count() == 0 && empty.columns.contains("prev_cumsum"))
    val one = graft.ops.Pack.prefixSum(
      Seq((5L, 2L), (9L, 3L), (7L, 4L)).toDF("id", "v"), "id", "v", buckets = 1)
      .select("id", "prev_cumsum").as[(Long, Long)].collect().toMap
    assert(one == Map(5L -> 0L, 7L -> 2L, 9L -> 6L))
    val neg = graft.ops.Pack.prefixSum(
      Seq((-1000L, 1L), (0L, 2L), (999999L, 3L)).toDF("id", "v"), "id", "v")
      .select("id", "prev_cumsum").as[(Long, Long)].collect().toMap
    assert(neg == Map(-1000L -> 0L, 0L -> 1L, 999999L -> 3L))
  }

  test("packSequences bins are contiguous and offsets stay below ctxLen") {
    val p = graft.ops.Pack.packSequences(docs, col("text"), col("doc_id"), 128)
      .orderBy("doc_id").collect()
    assert(p.forall(r => r.getLong(3) >= 0 && r.getLong(3) < 128))
    // total stream length conserved: last doc's bin*128+off+its tokens
    val total = p.map(_.getLong(1)).sum
    val last = p.last
    assert(last.getLong(2) * 128 + last.getLong(3) == total - last.getLong(1))
    // bins never decrease in doc order
    assert(p.sliding(2).forall { case Array(a, b) => a.getLong(2) <= b.getLong(2) })
  }

  test("seededShuffle is a permutation, deterministic, and seed-sensitive") {
    import spark.implicits._
    val s1 = graft.ops.Pack.seededShuffle(docs, col("doc_id"), "seedA", 8)
    val s2 = graft.ops.Pack.seededShuffle(docs, col("doc_id"), "seedA", 8)
    val s3 = graft.ops.Pack.seededShuffle(docs, col("doc_id"), "seedB", 8)
    assert(s1.collect().toSeq == s2.collect().toSeq)
    assert(s1.join(s3, Seq("doc_id", "shard", "pos")).count() < docs.count())
    // (shard, pos) is a dense unique key: positions 1..|shard| per shard
    val dense = s1.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), countDistinct("pos").as("d"))
      .filter(col("n") =!= col("mx") || col("n") =!= col("d"))
    assert(dense.count() == 0)
  }

  test("lengthQuantiles matches nearest-rank on a known distribution") {
    import spark.implicits._
    // group g: lengths 1..10 (one doc each) → p50=5, p90=9, p99=10
    val d = (1 to 10).map(n => ("g", (1 to n).map(i => s"t$i").mkString(" ")))
      .toDF("lang", "text")
    val r = TextOps.lengthQuantiles(d, col("text"), col("lang")).head()
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((5L, 9L, 10L)))
  }

  test("writeShards lays out one pos-ordered file per shard, reproducibly") {
    import graft.ops.Pack
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Pack.writeShards(docs, col("doc_id"), "seedA", 4, dir)
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length == 4)
    // one data file per shard, rows inside in strictly increasing pos
    val expect = Pack.seededShuffle(docs, col("doc_id"), "seedA", 4)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: expected a single file")
      val rows = spark.read.parquet(files.head.getPath)
        .select("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.toSeq)
      val shard = d.getName.stripPrefix("shard=").toLong
      val want = expect.filter(col("shard") === shard)
        .select("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
      assert(rows.sortBy(_._2).toSeq == want.toSeq)
    }
  }

  test("bpeTrain learns the classic merge sequence on a known corpus") {
    import spark.implicits._
    // "a b" dominates (4), then the merged unit pairs with c (3)
    val d = Seq("a b c a b c", "a b c a b", "x y").toDF("t")
    val merges = TextOps.bpeTrain(d, col("t"), nMerges = 3)
    assert(merges.take(2) == Seq(("a", "b"), ("a_b", "c")))
    // encoding with the learned merges collapses the training corpus
    val enc = d.select(TextOps.bpeEncode(col("t"), merges).as("e"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(enc(0) == Seq("a_b_c", "a_b_c") || enc(0).head.startsWith("a_b"))
    // trainer stops when no pair repeats: tiny corpus exhausts merges
    val few = TextOps.bpeTrain(Seq("p q").toDF("t"), col("t"), nMerges = 5)
    assert(few == Seq(("p", "q")))
  }

  test("bpeEncode applies ranked merges greedily, lowest rank first") {
    import spark.implicits._
    val merges = Seq(("a", "b"), ("a_b", "c"))
    val out = Seq("a b c a b", "c c a", "").toDF("t")
      .select(TextOps.bpeEncode(col("t"), merges).as("e"))
      .collect().map(_.getSeq[String](0).toSeq)
    assert(out(0) == Seq("a_b_c", "a_b"))
    assert(out(1) == Seq("c", "c", "a"))
    assert(out(2) == Seq())
    // rank order matters: ("b","c") would fire before ("a","b") if ranked lower
    val alt = Seq("a b c").toDF("t")
      .select(TextOps.bpeEncode(col("t"), Seq(("b", "c"), ("a", "b"))).as("e"))
      .head.getSeq[String](0).toSeq
    assert(alt == Seq("a", "b_c"))
  }

  test("pqTopK ADC score equals explicit decode-then-dot recomputation") {
    val (dim, m, ksub) = (64, 4, 4)
    val dsub = dim / m
    val cb = Similarity.pqFit(emb, "embedding", "vec_id", dim, m, ksub, iters = 2)
    assert(cb.length == m && cb.forall(b => b.length == ksub &&
      b.forall(_.length == dsub)))
    val vecs = emb.select(col("vec_id"),
      Similarity.toDouble(col("embedding")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def subDot(v: Array[Double], j: Int, cent: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dsub) { acc += v(j * dsub + i) * cent(i); i += 1 }
      acc
    }
    def code(v: Array[Double], j: Int): Int =
      (0 until ksub).maxBy(c => (subDot(v, j, cb(j)(c)), -c))
    val out = Similarity.pqTopK(emb, emb.filter(col("vec_id") === 5L),
      "embedding", "vec_id", k = 3, dim, m, ksub, cb)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    val q = vecs(5L)
    out.foreach { case (nid, score) =>
      val expected = (0 until m).map(j => subDot(q, j, cb(j)(code(vecs(nid), j)))).sum
      assert(math.abs(score - expected) < 1e-12, s"neighbor $nid")
    }
    // and the top-1 really is the argmax of the ADC scores over the corpus
    val best = vecs.keys.filter(_ != 5L).maxBy { nid =>
      ((0 until m).map(j => subDot(q, j, cb(j)(code(vecs(nid), j)))).sum, -nid)
    }
    assert(out.head._1 == best)
  }

  test("paragraphDedup keeps first occurrence corpus-wide, reassembles in order") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq("alpha beta", "shared para", "gamma")),
      (2L, Seq("shared para", "delta")),       // dup para at (2,0) dropped
      (3L, Seq("shared para", "shared para")), // both copies dropped
      (4L, Seq.empty[String])
    ).toDF("doc_id", "paras")
    val out = Dedup.paragraphDedup(d, col("paras"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 3L, 3L), (2L, 2L, 1L), (3L, 2L, 0L), (4L, 0L, 0L)))
    // doc 2 reassembles to just "delta"; doc 3 to the empty string
    val md5of = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1)._4 == md5of("delta"))
    assert(out(2)._4 == md5of(""))
    assert(out(0)._4 == md5of("alpha beta\nshared para\ngamma"))
  }

  test("c4Clean line and document rules all fire") {
    import spark.implicits._
    val d = Seq(
      // survives: 3 lines pass all line rules
      (1L, Seq("one two three four five.", "a b c d e f!", "w x y z q?")),
      // line rules: no terminal punct / too few words / javascript
      (2L, Seq("one two three four five", "short line.",
        "calls javascript code here now.", "a b c d e six.")),
      // doc rules: brace and lorem ipsum kill an otherwise-clean doc
      (3L, Seq("one two three four five.", "a b c d e f.", "w { x y z q.")),
      (4L, Seq("one two three four five.", "a b c d e f.", "lorem ipsum dolor sit amet.")),
      (5L, Seq.empty[String])
    ).toDF("doc_id", "lines")
    val out = TextOps.c4Clean(d, col("lines"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 3L, true),
      (2L, 4L, 1L, false),   // only the last line survives
      (3L, 3L, 3L, false),   // brace rule
      (4L, 3L, 3L, false),   // lorem ipsum rule
      (5L, 0L, 0L, false)))
  }

  test("bpePairCounts counts adjacent pairs exactly on a known doc") {
    import spark.implicits._
    val d = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "solo")).toDF("id", "text")
    val r = TextOps.bpePairCounts(d, col("text"), topN = 10).collect()
      .map(x => ((x.getString(0), x.getString(1)), x.getLong(2))).toMap
    // doc1: (a,b)(b,a)(a,b)(b,c); doc2: (a,b); doc3 has no pair
    assert(r == Map(("a", "b") -> 3L, ("b", "a") -> 1L, ("b", "c") -> 1L))
  }

  test("kmeansFit is run-to-run deterministic (decimal sums)") {
    val c1 = Similarity.kmeansFit(emb, "embedding", "vec_id", k = 4, iters = 2)
    val c2 = Similarity.kmeansFit(
      emb.repartition(7), "embedding", "vec_id", k = 4, iters = 2)
    assert(c1 == c2) // bit-identical under a different partitioning
  }

  test("dsirScore ranks target-language docs above the rest") {
    import spark.implicits._
    val scored = TextOps.dsirScore(docs, col("lang") === "en",
      col("text"), col("doc_id"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val means = scored
      .groupBy(col("lang") === "en")
      .agg(avg(col("dsir_score"))).as[(Boolean, Double)].collect().toMap
    assert(means(true) > means(false),
      s"target mean ${means(true)} must exceed non-target ${means(false)}")
    // partition-count invariance: integer arithmetic end to end
    val again = TextOps.dsirScore(docs.repartition(7),
      col("lang") === "en", col("text"), col("doc_id"))
    assert(scored.select("doc_id", "dsir_score")
      .except(again.select("doc_id", "dsir_score")).count() == 0)
  }

  test("assignCells matches per-row argmax-dot and caps balance per cell") {
    import spark.implicits._
    val cb = Similarity.kmeansFit(emb, "embedding", "vec_id", k = 4, iters = 2)
    val assigned = Similarity.assignCells(emb, "embedding", "vec_id", cb)
    val rows = emb.select(col("vec_id"),
      col("embedding").cast("array<double>")).as[(Long, Seq[Double])]
      .collect().toMap
    assigned.as[(Long, Long)].collect().foreach { case (id, cell) =>
      val v = rows(id)
      val dots = cb.map(c => c.iterator.zip(v.iterator).map {
        case (a, b) => a * b }.sum)
      val best = dots.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
      assert(cell == best, s"vec $id: got cell $cell want $best")
    }
    val capped = TextOps.capPerKey(
      assigned.withColumnRenamed("id", "vec_id"),
      col("cell").cast("string"), col("vec_id"), cap = 5)
    val sizes = capped.groupBy("key").count().as[(String, Long)].collect()
    assert(sizes.forall(_._2 <= 5))
    assert(sizes.map(_._1).sorted.sameElements(
      assigned.select(col("cell").cast("string")).distinct()
        .as[String].collect().sorted))
  }

  test("scoreBuckets: thirds by value thresholds, ties share a bucket") {
    import spark.implicits._
    // 9 docs, scores 9..1 → head {9,8,7}, middle {6,5,4}, tail {3,2,1}
    val d = (1L to 9L).map(i => (i, "en", i)).toDF("doc_id", "lang", "s")
    val out = TextOps.scoreBuckets(d, col("lang"), col("s"), col("doc_id"))
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert((7L to 9L).forall(out(_) == "head"))
    assert((4L to 6L).forall(out(_) == "middle"))
    assert((1L to 3L).forall(out(_) == "tail"))
    // a fat tie straddling the cut stays in one bucket: 6 docs score 10,
    // 3 docs below — cum at v=10 is 6 ≥ ceil(9/3) AND ≥ 2n/3, so the tie
    // block is all head and the rest skips middle entirely
    val t = ((1L to 6L).map(i => (i, "en", 10L)) ++
      (7L to 9L).map(i => (i, "en", 1L))).toDF("doc_id", "lang", "s")
    val tb = TextOps.scoreBuckets(t, col("lang"), col("s"), col("doc_id"))
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert((1L to 6L).forall(tb(_) == "head"))
    assert((7L to 9L).forall(tb(_) == "tail"))
    // groups are independent
    val g = ((1L to 3L).map(i => (i, "en", i)) ++
      (4L to 6L).map(i => (i, "de", i))).toDF("doc_id", "lang", "s")
    val gb = TextOps.scoreBuckets(g, col("lang"), col("s"), col("doc_id"))
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    assert(gb(3L) == "head" && gb(6L) == "head")
    assert(gb(1L) == "tail" && gb(4L) == "tail")
  }

  test("tokenBudgetSelect: greedy by score, one straddler kept") {
    import spark.implicits._
    val d = Seq(
      (1L, 100L, 40L), (2L, 90L, 40L), (3L, 80L, 40L), (4L, 70L, 40L),
      (5L, 100L, 40L) // ties with doc 1; id asc breaks the tie
    ).toDF("doc_id", "sc", "nt")
    val kept = graft.ops.Pack.tokenBudgetSelect(
      d, col("doc_id"), col("sc"), col("nt"), budget = 100L)
      .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
    // order: 1 (cum 0), 5 (40), 2 (80 — straddles, kept), 3 (120 — out)
    assert(kept == Map(1L -> 0L, 5L -> 40L, 2L -> 80L))
  }

  test("urlNormalize canonical forms") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/a/b/?b=2&a=1&utm_source=x#frag",
       "http://example.com/a/b?a=1&b=2"),
      ("https://example.com:8443/x", "https://example.com:8443/x"),
      ("https://sub.example.com", "https://sub.example.com/"),
      ("http://example.com/?fbclid=abc", "http://example.com/"),
      ("http://example.com/p?gclid=1&z=9&a=2", "http://example.com/p?a=2&z=9"))
    val out = cases.map(_._1).toDF("u")
      .select(col("u"), TextOps.urlNormalize(col("u")).as("c"))
      .as[(String, String)].collect().toMap
    cases.foreach { case (in, want) =>
      assert(out(in) == want, s"$in → ${out(in)} want $want") }
  }

  test("gopherGate: each rule fires on a crafted offender") {
    import spark.implicits._
    val stopPad = "the be to of and that have with "
    val goodDoc = (stopPad +
      (1 to 52).map(i => s"topic${i}word").mkString(" ")).trim
    val shortDoc = "too short"
    val noStop = (1 to 60).map(i => s"word$i").mkString(" ")
    val repDoc = (stopPad + ("spam ham " * 30)).trim // top bigram dominates
    val d = Seq((1L, goodDoc), (2L, shortDoc), (3L, noStop), (4L, repDoc))
      .toDF("doc_id", "text")
    val out = TextOps.gopherGate(d, col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(out(1L)._6 == 1L, s"good doc dropped: ${out(1L)}")
    assert(out(2L)._1 == 0L && out(2L)._6 == 0L) // too few words
    assert(out(3L)._3 == 0L && out(3L)._6 == 0L) // no stopwords
    assert(out(4L)._5 == 0L && out(4L)._6 == 0L) // repetition
  }

  test("oovRate: ppm exact against the top-V cut") {
    import spark.implicits._
    // corpus: 'a' x11, 'b' x6, 'c' x2, 'd' x1 — vocab top-2 = {a, b}
    val d = Seq(
      (1L, "a a a a a a a a a a"), (2L, "b b b b b c"), (3L, "c d a b")
    ).toDF("doc_id", "text")
    val m = TextOps.oovRate(d, col("text"), col("doc_id"), vocabSize = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(1L) == ((10L, 0L)))
    assert(m(2L) == ((6L, 1000000L / 6))) // 'c' is OOV: 1 of 6
    assert(m(3L) == ((4L, 500000L)))      // c,d OOV: 2 of 4
  }

  test("skipgramPairs: window-2 pairs on a known doc, both directions") {
    import spark.implicits._
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.skipgramPairs(d, col("text"), window = 2, topN = 100)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val want = Set(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("a", "c"), ("c", "a"))
    assert(out.keySet == want)
    assert(out.values.forall(_ == 1L))
  }

  test("recallAtK: identical lists 1e6 ppm, disjoint 0") {
    import spark.implicits._
    val ex = Seq((1L, 10L), (1L, 11L), (2L, 20L))
      .toDF("query_id", "neighbor_id")
    val same = graft.ops.Similarity.recallAtK(ex, ex)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(same == Map(1L -> 1000000L, 2L -> 1000000L))
    val ap = Seq((1L, 11L), (2L, 99L)).toDF("query_id", "neighbor_id")
    val part = graft.ops.Similarity.recallAtK(ex, ap)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(part == Map(1L -> 500000L, 2L -> 0L))
  }

  test("sourceOverlap: contained source reads 1e6 ppm, disjoint absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "big"),
      (2L, "alpha beta gamma delta", "small"),      // ⊂ big's grams
      (3L, "one two three four five six", "other")  // disjoint
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(d, col("text"), col("source"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // small has 2 trigrams, both inside big's 4 → ppm = 1e6
    assert(out(("big", "small")) == ((2L, 1000000L)))
    assert(!out.contains(("big", "other")) && !out.contains(("other", "small")))
  }

  test("prefixSumBy equals the per-group window on every row") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val r = new scala.util.Random(23)
    val rows = (0 until 500).map(i =>
      (s"g${r.nextInt(5)}", i.toLong * 7 + r.nextInt(3), r.nextInt(40).toLong))
    val df = rows.toDF("g", "k", "v").dropDuplicates("g", "k")
    val out = graft.ops.Pack.prefixSumBy(df, "g", "k", "v", buckets = 8)
    // no internal column leaks: the input's columns plus prev_cumsum
    assert(out.columns.toSeq == df.columns.toSeq :+ "prev_cumsum")
    val got = out.select("g", "k", "prev_cumsum")
    val want = df.withColumn("prev_cumsum",
      coalesce(sum("v").over(Window.partitionBy("g").orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("g", "k", "prev_cumsum")
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
  }

  test("prefixSumBy: timestamp-typed and null group keys") {
    import spark.implicits._
    // regression: driver offsets were keyed by Catalyst's cast-to-string
    // while the scan used JVM toString (they disagree for timestamps),
    // and a null group key NPE'd the offsets sort
    // groups deliberately SPAN the two buckets so a driver-offset
    // lookup miss (wrong key form) cannot be masked by a same-bucket 0
    val df = Seq(
      (Some("2024-01-01 00:00:00"), 1L, 10L),
      (None, 2L, 7L),
      (Some("2024-06-01 12:00:00"), 3L, 5L),
      (Some("2024-01-01 00:00:00"), 4L, 20L),
      (None, 5L, 9L))
      .toDF("g0", "k", "v")
      .withColumn("g", col("g0").cast("timestamp")).drop("g0")
    val got = graft.ops.Pack.prefixSumBy(df, "g", "k", "v", buckets = 2)
      .select("k", "prev_cumsum").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 10L, 5L -> 7L))
  }

  test("mixtureSelect resolves ids not literally named doc_id") {
    import spark.implicits._
    // regression: the seed hash was built from the caller's column and
    // resolved AFTER the internal rename to doc_id
    val d = Seq(("a", 1L, 10L), ("a", 2L, 10L), ("b", 3L, 10L))
      .toDF("src", "my_id", "toks")
    val out = graft.ops.Pack.mixtureSelect(d, col("src"), col("my_id"),
      col("toks"), Map("a" -> 1L, "b" -> 1L), budget = 20L)
    assert(out.count() > 0)
  }

  test("mixtureSelect: per-source targets respected, one straddler each") {
    import spark.implicits._
    val d = (0 until 60).map(i =>
      (s"s${i % 3}", i.toLong, 10L)).toDF("source", "doc_id", "toks")
    val out = graft.ops.Pack.mixtureSelect(d, col("source"), col("doc_id"),
      col("toks"), weights = Map("s0" -> 2L, "s1" -> 1L), budget = 90L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    // targets: s0 = 90*2/3 = 60 tokens → 6 docs; s1 = 30 → 3 docs;
    // s2 absent (no weight)
    val bySrc = out.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc == Map("s0" -> 6, "s1" -> 3))
    // each kept doc's cum_before is below its source target
    assert(out.filter(_._1 == "s0").forall(_._3 < 60L))
    assert(out.filter(_._1 == "s1").forall(_._3 < 30L))
  }

  test("urlNormalize is idempotent over generated URL shapes") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen: Gen[String] = for {
      scheme <- Gen.oneOf("http", "HTTPS", "hTTp")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("Example.com", "a.b.example.ORG", "x-1.net")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "/a", "/a/b/", "/a//")
      query <- Gen.oneOf("", "?a=1", "?b=2&a=1", "?utm_source=z&a=1",
        "?fbclid=f", "?a=1&a=0")
      frag <- Gen.oneOf("", "#x", "#a?b=2")
    } yield s"$scheme://$www$host$port$path$query$frag"
    val urls = (0 until 200).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong))).distinct
    val once = urls.toDF("u")
      .select(col("u"), TextOps.urlNormalize(col("u")).as("c1"))
      .withColumn("c2", TextOps.urlNormalize(col("c1")))
      .filter(col("c1") =!= col("c2"))
      .collect()
    assert(once.isEmpty,
      s"non-idempotent: ${once.take(3).mkString("; ")}")
  }

  test("softDedupWeights: cluster members weigh 1/|cluster|, singletons full") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(w(1L) == 333333 && w(2L) == 333333 && w(3L) == 333333)
    assert(w(4L) == 1000000)
  }

  test("curriculum: phase 0 holds the top scores, phases partition the corpus") {
    import spark.implicits._
    val d = (1L to 100L).map(i => (i, i * 10)).toDF("doc_id", "score")
    val out = graft.ops.Pack.curriculum(d, col("score"), col("doc_id"), 4)
      .collect()
    assert(out.length == 100)
    val byPhase = out.groupBy(_.getInt(2)).view.mapValues(_.map(_.getLong(1)))
    assert(byPhase.keys.toSet == Set(0, 1, 2, 3))
    assert(byPhase(0).forall(_ > 750) && byPhase(3).forall(_ <= 260))
    assert(byPhase.values.map(_.length).sum == 100 &&
      byPhase.values.forall(_.length == 25))
  }

  test("curriculum: empty input returns an empty frame, not a div-by-zero") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "score")
    val out = graft.ops.Pack.curriculum(empty, col("score"), col("doc_id"), 4)
    assert(out.count() == 0)
    assert(out.columns.toSeq == Seq("doc_id", "score", "phase", "ord"))
  }

  test("resolveGroups converges on a chain far deeper than maxRounds") {
    import spark.implicits._
    // a 100-hop path: plain min-label propagation needs ~100 rounds,
    // so this only passes because pointer-jumping squares the reach
    // per round (and the require(converged) guard would throw if not)
    val pairs = (1L until 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val g = Dedup.resolveGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(g.length == 100 && g.forall(_._2 == 1L))
  }

  test("asofJoin: null keys never match (equi-join NULL semantics)") {
    import spark.implicits._
    val left = Seq((1L, Option("k1"), 100L), (2L, Option.empty[String], 100L))
      .toDF("id", "key", "t")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val right = Seq((Option("k1"), 50L, "a"), (Option.empty[String], 50L, "NULLSTATE"))
      .toDF("key", "t", "state")
      .withColumn("ts", timestamp_seconds(col("t"))).drop("t")
    val out = graft.ops.AsOf.asofJoin(left, col("key"), col("ts"),
      right, col("key"), col("ts"), Seq("state"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(3)).orNull))
    // null-keyed left row gets NO right value; the null-keyed right row
    // is never adopted by anyone
    assert(out.toSeq == Seq((1L, "a"), (2L, null)))
  }

  test("dhash short documents: tail cells wrap instead of hashing ''") {
    import spark.implicits._
    // pre-wrap, every doc shorter than ~2 grid rows had bands 1-3
    // identically zero: all short docs LSH-collided and their total
    // hamming was bounded by band0's 16 bits — every short pair
    // reported as a near-duplicate regardless of content
    val d = Seq((1L, "tiny alpha"), (2L, "other beta"), (3L, "third gamma"))
      .toDF("doc_id", "text")
    val sig = graft.ops.Multimodal.dhashSignatures(d, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // distinct content ⇒ distinct full signatures, and the upper bands
    // carry real bits (not all zero) for short docs
    assert(sig.values.toSet.size == 3)
    assert(sig.values.exists { case (_, b1, b2, b3) => (b1 | b2 | b3) != 0L })
    val pairs = graft.ops.Multimodal.dhashPairs(d, col("doc_id"),
      col("text"), maxHamming = 16).collect()
    assert(pairs.isEmpty, s"unrelated short docs reported near-dup: ${pairs.toSeq}")
  }

  test("classPack: slots bounded by ctx/class, assignment deterministic") {
    import spark.implicits._
    val d = (1L to 300L).map(i => (i, (i % 500) + 1)).toDF("doc_id", "len")
    val out = graft.ops.Pack.classPack(d, col("doc_id"), col("len"),
      ctx = 1024, nShards = 4)
    val rows = out.collect()
    assert(rows.length == 300)
    rows.foreach { r =>
      val (len, cls, slot) = (r.getLong(1), r.getLong(2), r.getLong(5))
      assert(len <= cls && (cls == 64 || len > cls / 2))
      assert(slot < 1024 / cls)
    }
    val again = graft.ops.Pack.classPack(d, col("doc_id"), col("len"),
      ctx = 1024, nShards = 4).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("dhashPairs: identical content at hamming 0, local edit small, disjoint absent") {
    import spark.implicits._
    val base = ("the quick brown fox jumps over the lazy dog " * 10).trim
    val edited = base.substring(0, base.length - 9) + "lazy cat!"
    val other = ("completely different words typed here again now " * 10).trim
    val d = Seq((1L, base), (2L, base), (3L, edited), (4L, other))
      .toDF("doc_id", "text")
    val pairs = graft.ops.Multimodal.dhashPairs(d, col("doc_id"),
      col("text"), maxHamming = 16)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 2L)) == 0)
    // a local tail edit stays within a few bits (an unchanged bit is
    // legitimate: dHash bits only flip when an adjacent ORDER flips)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) <= 8)
    assert(!pairs.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("wordpieceStats: greedy longest match, spaces fall back to chars") {
    import spark.implicits._
    val d = Seq((1L, "spark sparkly zz"), (2L, "qqq")).toDF("doc_id", "text")
    val out = TextOps.wordpieceStats(d, col("text"), col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // vocab = {spark, sparkly, zz, qqq}; doc 1 encodes as
    // [spark][ ][sparkly][ ][zz] — 5 tokens, 2 single-char fallbacks
    assert(out.toSeq == Seq((1L, 5L, 2L), (2L, 1L, 0L)))
  }

  test("domainFilter blocks exact host and subdomains only") {
    import spark.implicits._
    val hosts = Seq("ads.net", "x.ads.net", "a.b.ads.net", "notads.net",
      "ads.net.evil.org", "clean.org").toDF("host")
    val kept = TextOps.domainFilter(hosts, col("host"), Seq("ads.net"))
      .as[String].collect().toSet
    assert(kept == Set("notads.net", "ads.net.evil.org", "clean.org"))
    // empty blocklist keeps everything
    assert(TextOps.domainFilter(hosts, col("host"), Nil).count() == 6)
  }
}
