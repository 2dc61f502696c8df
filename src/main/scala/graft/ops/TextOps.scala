package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, language-ID heuristic, quality metrics, token counting,
  * document fingerprinting.
  *
  * Everything is built from codegen'd Catalyst built-ins (no UDFs): at
  * 100 TB these run entirely inside whole-stage codegen, embarrassingly
  * parallel, no shuffle except final aggregations.
  *
  * Determinism contract: each helper has an exact DuckDB-SQL equivalent
  * (same tokenizer regex, same fold order) — see SparkEntry.oracleSql.
  */
object TextOps {

  /** Lowercase alnum tokens; empty strings removed. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Word k-grams as space-joined strings (order-preserving).
    * Caller must guard `size(toks) >= k`.
    */
  def shingles(toks: Column, k: Int): Column =
    transform(sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k))))

  /** First 32 bits of md5(s) as a long (the cross-engine portable hash). */
  def hex32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** First 63 bits of md5(s) as a long: bytes 0–7 with the top bit
    * cleared, i.e. `(hi32 & 0x7fffffff) * 2^32 + lo32`. Used for term
    * IDENTITY keys (postings, LM gram counts) where a 32-bit space would
    * birthday-collide at web-scale vocabularies; always non-negative so
    * the DuckDB oracle reproduces it with plain signed BIGINT arithmetic
    * (no unsigned casts). Mirrors [[graft.functions.ShingleHashes.hashes64]].
    */
  def hex64(c: Column): Column = {
    val m = md5(c.cast("string"))
    conv(substring(m, 1, 8), 16, 10).cast("long")
      .bitwiseAND(lit(0x7fffffffL)) * lit(4294967296L) +
      conv(substring(m, 9, 8), 16, 10).cast("long")
  }

  /** Hash-repartition a kernel-built frame by `key` before
    * materialization IF its planned parallelism is below the session's:
    * a single-row-group fixture scan is one task, and materializing it
    * pins EVERY downstream consumer (joins, scoring projections)
    * to one partition until the next exchange. The gate makes this a
    * no-op at cluster scale, where scans carry orders of magnitude more
    * partitions than cores; locally the one shuffle of the compact
    * (ids + hashes) frame buys cores× parallelism for the whole rest of
    * the plan. Deterministic (hash partitioning, not round-robin).
    *
    * Assumes a scan-rooted input: `df.rdd.getNumPartitions` forces
    * physical planning of the subtree, which is cheap for the scan+kernel
    * call sites here but would trigger AQE query-stage execution (running
    * upstream work twice) on a frame whose plan contains exchanges.
    */
  private[ops] def spread(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(key) else df
  }

  /** Language-ID by stop-word markers: score = |tokens ∩ markers(lang)|,
    * winner = highest score with fixed priority order on ties.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "los", "de", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une"),
    "zh" -> Seq("shi", "bu", "wo", "ni", "ta", "men"))

  def langScores(toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(array_distinct(toks),
        array(markers.map(lit): _*)))
    }

  /** argmax over langScores with ties resolved by list order. */
  def langGuess(toks: Column): Column = {
    val scores = langScores(toks)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und")) { case ((lang, s), acc) =>
      when(s === best && s > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Fused language-ID kernel: identical decision procedure to
    * [[langGuess]] (distinct-token ∩ marker counts, first language in
    * [[langMarkers]] order wins ties, "und" when all scores are 0), one
    * JVM call per document instead of interpreted intersect lambdas.
    */
  private val markerSets: Seq[(String, Set[String])] =
    langMarkers.map { case (l, ms) => l -> ms.toSet }

  def langGuessScala(text: String): String = {
    if (text == null) return "und"
    // Locale.ROOT: the SQL lower() this must mirror is locale-invariant
    // (a tr-TR default locale would produce dotless-ı and break parity)
    val distinctToks = text.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    val scores = markerSets.map { case (l, ms) => l -> (distinctToks & ms).size }
    val best = scores.map(_._2).max
    if (best == 0) "und"
    else scores.find(_._2 == best).get._1
  }

  def langGuessFused(text: Column): Column = {
    val f = udf((s: String) => langGuessScala(s))
    f(text)
  }

  /** English-ish stopword list for the quality ratio. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Quality metrics (one row per doc): token count, mean token length,
    * stopword ratio, alpha ratio. All double arithmetic mirrors the SQL
    * oracle exactly (int sums, then one double division).
    */
  def qualityMetrics(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val toks = tokens(text)
    val nTok = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nStop = size(filter(toks, t => t.isInCollection(stopwords)))
    val alpha = length(regexp_replace(text, "[^A-Za-z]", ""))
    df.select(
      idCol.as("doc_id"),
      nTok.as("n_tokens"),
      (sumLen.cast("double") / nTok).as("mean_token_len"),
      (nStop.cast("double") / nTok).as("stop_ratio"),
      (alpha.cast("double") / length(text)).as("alpha_ratio"))
  }

  /** Token counting: whitespace tokens, BPE-ish regex pieces, and the
    * chars/4 heuristic.
    */
  val bpeRegex = "[a-z]+|[0-9]|[^a-z0-9\\s]"
  def tokenCounts(df: DataFrame, text: Column, idCol: Column): DataFrame =
    df.select(
      idCol.as("doc_id"),
      size(tokens(text)).as("ws_tokens"),
      regexp_count(lower(text), lit(bpeRegex)).as("bpe_tokens"),
      ceil(length(text).cast("double") / 4).cast("long").as("est_tokens"))

  /** Gopher-style repetition metrics (Rae et al. 2021, appendix A1.1
    * repetition filters): the fraction of all word bigrams occupied by
    * the single most frequent bigram, and the fraction of trigram
    * occurrences that are duplicates of an earlier one. Both are
    * per-document folds over the token array (the max-multiplicity count
    * is the longest equal-run of the sorted bigram array, computed with
    * the `aggregate` higher-order function) — scan-side, codegen'd, zero
    * shuffle at any corpus size.
    */
  def repetitionMetrics(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val toks = tokens(text)
    def grams(k: Int) =
      when(size(toks) >= k, shingles(toks, k))
        .otherwise(array().cast("array<string>"))
    val bigrams = array_sort(grams(2))
    val trigrams = grams(3)
    val top = aggregate(bigrams,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    df.select(idCol.as("doc_id"),
      when(size(bigrams) > 0, top.cast("double") / size(bigrams))
        .otherwise(lit(0.0)).as("top_bigram_frac"),
      when(size(trigrams) > 0,
        (size(trigrams) - size(array_distinct(trigrams))).cast("double") /
          size(trigrams))
        .otherwise(lit(0.0)).as("dup_trigram_frac"))
  }

  /** OpenRefine-style normalization fingerprint: md5 of the space-joined
    * sorted distinct token set. Identical fingerprints ⇒ same bag of words.
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** PII redaction rules, applied IN ORDER (order matters: SSN before
    * phone so `123-45-6789` isn't half-eaten by the phone rule; card
    * before phone so a 16-digit run isn't split). Patterns are common
    * RE2/Java-regex subset — no backrefs/lookarounds — so the same
    * strings drive both engines.
    */
  val piiRules: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{13,19}\\b" -> "<CC>",
    "\\+?\\d[\\d -]{7,}\\d" -> "<PHONE>")

  /** Scrub PII from a text column: emails, SSNs, IPv4s, card-length digit
    * runs, phone-like digit strings → typed placeholder tags. Pure chained
    * `regexp_replace` — codegen'd, map-side, zero shuffle at any scale.
    */
  def piiRedact(text: Column): Column =
    piiRules.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }

  /** Deterministic stratified sampling: a row survives iff
    * hex32(stratum + "|" + id) mod 1000 < rate(stratum)·1000. Seedless
    * and engine-portable (same md5 everywhere), stable under re-runs and
    * retries — the property that matters for reproducible training mixes.
    * Map-side filter only: no shuffle, no per-stratum pass; at 100 TB the
    * sample is one scan regardless of the number of strata.
    */
  def stratifiedSample(
      df: DataFrame, stratum: Column, idCol: Column,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (s, r)) =>
      when(stratum === s, lit(r)).otherwise(acc)
    }
    val bucket = hex32(concat(stratum, lit("|"), idCol.cast("string"))) % 1000
    df.filter(bucket < (rate * 1000).cast("long"))
  }

  /** P3: temperature-weighted source mixing — the data-mixing step of a
    * training pipeline. Target proportions follow w^(1/T): T=1 keeps the
    * given weights, T→∞ flattens toward uniform. Rates are normalized so
    * the heaviest source keeps everything (pure downsampling — no
    * upsampling/duplication, which dedup would undo anyway), then
    * quantized to 1/1000 so the deterministic md5 bucket compare is
    * bit-reproducible (and expressible in any SQL oracle as integer
    * thresholds). Map-side filter: no shuffle, scales to any corpus.
    */
  def temperatureMix(
      df: DataFrame, sourceCol: Column, idCol: Column,
      weights: Map[String, Double], temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be > 0")
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val powed = weights.map { case (k, v) =>
      k -> math.pow(v, 1.0 / temperature)
    }
    val mx = powed.values.max
    val thresholds = powed.map { case (k, v) =>
      k -> math.round(v * 1000.0 / mx) // integer per-mille keep rate
    }
    val thr = thresholds.foldLeft(lit(0L)) { case (acc, (s, t)) =>
      when(sourceCol === s, lit(t)).otherwise(acc)
    }
    val bucket = hex32(concat(sourceCol, lit("|"), idCol.cast("string"))) % 1000
    df.filter(bucket < thr)
  }

  /** Split documents into fixed-size token chunks with overlap — the
    * context-window prep step of a training pipeline. Chunk i starts at
    * token 1 + i·(size−overlap); every chunk after the first repeats the
    * previous chunk's last `overlap` tokens. Emits one row per chunk:
    * (id, chunk_idx, n_chunk_tokens, chunk fingerprint). Built from
    * sequence/slice/posexplode — the only row growth is the chunks
    * themselves (ntokens/(size−overlap) rows per doc), map-side.
    */
  def chunkTokens(
      df: DataFrame, text: Column, idCol: Column,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val step = chunkSize - overlap
    val toks = tokens(text)
    val starts = sequence(lit(1), greatest(size(toks) - overlap, lit(1)), lit(step))
    val chunks = transform(starts, st => slice(toks, st, lit(chunkSize)))
    df.filter(size(toks) > 0)
      .select(idCol.as("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
  }

  /** Exact per-group token-count quantiles (nearest-rank), computed the
    * scale-safe way: aggregate a (group, value) histogram first — the
    * only full-data shuffle, with map-side combine — then rank over the
    * DISTINCT values per group. The ranking window is bounded by value
    * cardinality (thousands), never row count, so a group with billions
    * of documents costs the same as one with thousands — the distributed
    * exact-quantile alternative to gathering a group onto one task.
    * Nearest-rank definition: q-quantile = smallest value whose
    * cumulative count ≥ ceil(q·n) — integer math, engine-portable.
    */
  def lengthQuantiles(
      df: DataFrame, text: Column, groupCol: Column,
      qs: Seq[(String, Double)] = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
      : DataFrame = {
    val hist = df
      .select(groupCol.as("grp"), size(tokens(text)).cast("long").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("v"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))))
    val aggs = qs.map { case (name, q) =>
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("v"))).as(name)
    }
    cum.groupBy(col("grp"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("grp")
  }

  /** One BPE merge-selection step: corpus-wide adjacent-token-pair
    * frequencies, top-N by count (the pair a tokenizer trainer would
    * merge next). Pair construction is a codegen'd slice+zip per doc —
    * map-side, no UDF; the only shuffle is the (a, b) count aggregate
    * with partial map-side combine, and the final top-N is
    * TakeOrderedAndProject (k rows per partition cross the wire).
    */
  def bpePairCounts(
      df: DataFrame, text: Column, topN: Int): DataFrame = {
    val toks = tokens(text)
    val pairs = arrays_zip(
      slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1))
    df.filter(size(toks) >= 2)
      .select(explode(pairs).as("p"))
      .select(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("a").asc, col("b").asc)
      .limit(topN)
  }

  /** Train `nMerges` BPE merges — the full tokenizer-trainer loop whose
    * single step is [[bpePairCounts]] and whose application half is
    * [[bpeEncode]]: apply the merges learned so far (map-side), count
    * adjacent pairs corpus-wide (one distributed agg), adopt the most
    * frequent pair (ties: lexicographic, deterministic), repeat. The
    * merge table lives on the driver like every trained artifact here
    * (k-means codebooks, PQ codebooks); each round is one shuffle-free
    * scan + one partial-agg count, so cost is nMerges × one pair-count
    * job — the standard practice at 100 TB is to train on a sample and
    * [[bpeEncode]] the full corpus, which this API supports directly.
    */
  def bpeTrain(
      df: DataFrame, text: Column, nMerges: Int): Seq[(String, String)] = {
    var merges = Vector.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val seqs = bpeEncode(text, merges)
      val pairs = arrays_zip(
        slice(seqs, lit(1), size(seqs) - 1), slice(seqs, lit(2), size(seqs) - 1))
      val top = df.filter(size(seqs) >= 2)
        .select(explode(pairs).as("p"))
        .select(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else merges = merges :+ ((top(0).getString(0), top(0).getString(1)))
    }
    merges
  }

  /** P6: DSIR importance score (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): rank
    * raw documents by how much more likely their hashed-bigram bag is
    * under a target-domain bucket model p than under the raw-corpus model
    * q. Features are the paper's hashed n-grams: word bigrams hashed into
    * `buckets` buckets. The published weight is exp(Σ_b c_b(log p_b −
    * log q_b)); here each bucket contributes an integer-ppm add-1
    * likelihood ratio instead of a log — no log/exp whose last-ulp
    * behavior differs per libm, so scores are bit-identical on any
    * engine, and the induced ranking (all selection consumes) orders
    * target-like text the same way.
    *
    * Scale: one count aggregate keyed by bucket (B rows out — the model),
    * broadcast back over the feature stream; per-doc scoring is a
    * map-side broadcast join + partial agg keyed by doc_id. Hot buckets
    * cost one counter via map-side partial agg, never a row expansion.
    * Integer headroom: ratio ≤ 10⁶·(tr+B)/(tt+B) (ct ≤ cr always), i.e.
    * 10⁶/target-fraction — per-doc sums stay far under Long range even
    * for billion-gram documents; the ratio numerator 10⁶·(ct+1)·(tr+B)
    * bounds Long math to corpora ≤ ~10¹² target grams, past which the
    * ppm constant drops a digit or the model moves to log-space doubles.
    *
    * @param targetPred row predicate selecting the target-domain slice
    *                   (e.g. a trusted source or language); scored docs
    *                   are ALL rows, as DSIR scores the raw pool.
    */
  def dsirScore(
      df: DataFrame, targetPred: Column, text: Column, idCol: Column,
      buckets: Int = 4096): DataFrame = {
    val h2 = graft.functions.ShingleHashes(text, 2, distinct = false)
    // no size(h2) >= 1 pre-filter: explode drops empty arrays already,
    // and the filter's own udf evaluation doubled the kernel cost
    val feats = df
      .select(idCol.as("doc_id"), targetPred.as("is_t"),
        explode(h2).as("h"))
      .withColumn("b", col("h") % buckets.toLong)
    val model = feats.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))
    val tots = model.agg(sum("ct").as("tt"), sum("cr").as("tr"))
    val ratio = model.crossJoin(broadcast(tots))
      .withColumn("ratio", expr(
        s"(1000000 * (ct + 1) * (tr + $buckets)) div ((cr + 1) * (tt + $buckets))"))
      .select("b", "ratio")
    feats.join(broadcast(ratio), Seq("b"))
      .groupBy("doc_id")
      .agg(expr("sum(ratio) div count(*)").as("dsir_score"),
        count(lit(1)).as("n_grams"))
  }

  /** T11: bigram language-model quality score — the CCNet/Gopher-style
    * "how plausible is this text under a corpus LM" filter, self-trained:
    * the model is the corpus's own bigram table. Per bigram occurrence,
    * q = (10⁶ · count(w₁w₂)) div count(w₁) — the conditional probability
    * in parts-per-million; a document's score is the integer mean of its
    * bigram q values. All arithmetic is integer (counts and floor
    * divisions), so results are bit-identical on any engine — no
    * log/exp, whose last-ulp behavior differs per libm (the monotone
    * integer mean ranks documents the same way mean log-prob does for
    * filtering purposes).
    *
    * Scale: two count aggregates keyed by gram (map-side partial), two
    * shuffle hash joins keyed by gram — all linear; hot grams ("the of")
    * join against ONE count row each, no expansion.
    */
  def bigramLikelihood(
      df: DataFrame, text: Column, idCol: Column): DataFrame = {
    // count and join on 63-bit gram hashes, not gram strings: 8-byte
    // shuffle keys instead of variable-width text (the two count joins
    // carry every bigram occurrence — key width IS the shuffle). hex64
    // is the same md5 prefix on both engines; 63 bits keeps the
    // collision expectation < 1e-3 even at a 100 M-gram vocabulary
    // (32 bits would merge ~1.1 M gram pairs there). Hashes come from
    // the fused bigram-triple kernel — ONE tokenize + one md5 per gram
    // per document (the previous h2s/h1s/size-filter triple evaluated
    // the tokenize+hash udf three times per row; an interpreted
    // per-element HOF md5 chain is ~5× slower still). The kernel emits
    // an empty array below 2 tokens, so explode drops exactly the rows
    // the old `size(h1s) >= 2` filter did.
    val pairs = graft.functions.ShingleHashes.bigramTriples64Col(text)
    // two consumers (c2 and the scoring join) — materialize the
    // occurrence table instead of re-running the tokenize+hash kernel
    val big = CacheHooks.materialize(spread(df
      .select(idCol.as("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p._1").as("h2"), col("p._2").as("h1")),
      col("doc_id")))
    val c2 = big.groupBy("h2").agg(count(lit(1)).as("c2"))
    val c1 = df.select(
        explode(graft.functions.ShingleHashes(text, 1, distinct = false,
          wide = true)).as("h1"))
      .groupBy("h1").agg(count(lit(1)).as("c1"))
    // register BEFORE constructing the returned Dataset: the hook's
    // stale-event threshold ignores QueryExecutions constructed earlier
    // than the registration, and the returned plan's QE is allocated at
    // Dataset CONSTRUCTION time
    CacheHooks.unpersistAfterFirstUse(big)
    big.join(c2, Seq("h2"))
      .join(c1, Seq("h1"))
      .withColumn("q", expr("(1000000 * c2) div c1"))
      .groupBy("doc_id")
      .agg(expr("sum(q) div count(*)").as("lm_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Kneser-Ney smoothed bigram likelihood (the CCNet/KenLM-grade
    * upgrade of [[bigramLikelihood]]'s raw ratio): per bigram occurrence
    *
    *   P(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *            + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * with discount D = 0.75, where c(w1·) is the HISTORY count
    * (Σ_w2 c(w1w2)), N1+(w1·)/N1+(·w2) are continuation type counts and
    * N1+(··) the distinct-bigram total — so Σ_w2 P(w2|w1) ≈ 1 (proper
    * smoothing, unlike the raw ratio). All math is exact integer ppm
    * (D carried as ×4: max(4c−3, 0)/(4c)), bit-identical cross-engine;
    * grams count and join on 63-bit md5-prefix hashes exactly like
    * [[bigramLikelihood]] — 8-byte shuffle keys, collision-free in
    * expectation at web-scale vocabularies.
    *
    * Scale: four count frames derived from the occurrence table (hash
    * groupBys with map-side partial agg), hash equi-joins back, one
    * broadcast scalar (the distinct-bigram total). Same shuffle shape
    * as t11 plus one distinct — no windows, no skew surface beyond the
    * gram counts themselves.
    */
  def knBigramScore(
      df: DataFrame, text: Column, idCol: Column): DataFrame = {
    // fused bigram-triple kernel: one tokenize + one md5 per gram (see
    // bigramLikelihood — same three-evaluations-to-one rationale)
    val pairs = graft.functions.ShingleHashes.bigramTriples64Col(text)
    // materialize the occurrence table once: five consumers derive from
    // it (c2/c1/types and the scoring join) and without materializing
    // each re-runs the tokenize+hash kernel over the full corpus — the
    // same recompute the BM25 posting table avoids
    val big = CacheHooks.materialize(spread(df
      .select(idCol.as("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p._1").as("h2"), col("p._2").as("h1"),
        col("p._3").as("hn")), col("doc_id")))
    val c2 = big.groupBy("h2").agg(count(lit(1)).as("c12"))
    // history count c(w1·) from the bigram table itself (not raw
    // unigram occurrences): keeps the distribution normalized
    val c1 = big.groupBy("h1").agg(count(lit(1)).as("c1"))
    // the distinct-bigram type table also feeds three consumers
    // (u1/u2/the scalar total) — one dedup shuffle, not three.
    // materialize AFTER big (its build-time count consumes big's cache;
    // big's release hook registers only below, after this)
    val types = CacheHooks.materialize(big.select("h1", "hn", "h2").distinct())
    val u1 = types.groupBy("h1").agg(count(lit(1)).as("u1"))
    val u2 = types.groupBy("hn").agg(count(lit(1)).as("u2"))
    val bTot = types.agg(count(lit(1)).as("bb"))
    // register AFTER types' build-time count (it consumes big's cache)
    // but BEFORE the returned Dataset is constructed (see bigram note)
    CacheHooks.unpersistAfterFirstUse(big)
    CacheHooks.unpersistAfterFirstUse(types)
    val out = big.join(c2, Seq("h2")).join(c1, Seq("h1"))
      .join(u1, Seq("h1")).join(u2, Seq("hn"))
      .crossJoin(broadcast(bTot))
      .withColumn("p",
        expr("(1000000 * greatest(4*c12 - 3, 0)) div (4*c1)") +
          expr("(((750000 * u1) div c1) * ((1000000 * u2) div bb)) div 1000000"))
      .groupBy("doc_id")
      .agg(expr("sum(p) div count(*)").as("kn_score"),
        count(lit(1)).as("n_bigrams"))
      .orderBy("doc_id")
    out
  }

  /** Apply a ranked merge table to a document — the ENCODE half of the
    * tokenizer loop whose training statistic is [[bpePairCounts]] (train:
    * count pairs → take the top pair → add merge → recount; each round is
    * one Spark agg, the merge list lives on the driver). Classic BPE
    * greedy application: repeatedly merge every occurrence of the
    * lowest-ranked adjacent pair present, left to right, until no ranked
    * pair remains; merged units join with '_'. Per-document loop bounded
    * by |merges| rounds — map-side, no shuffle.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column = {
    val rank: Map[(String, String), Int] = merges.zipWithIndex.toMap
    val f = udf { (s: String) =>
      if (s == null) Array.empty[String]
      else {
        var seq = graft.functions.ShingleHashes.tokenize(s)
        var done = seq.length < 2
        while (!done) {
          var best = Int.MaxValue
          var i = 0
          while (i < seq.length - 1) {
            rank.get((seq(i), seq(i + 1))).foreach(r => if (r < best) best = r)
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            val (a, b) = merges(best)
            val out = scala.collection.mutable.ArrayBuffer[String]()
            var j = 0
            while (j < seq.length) {
              if (j < seq.length - 1 && seq(j) == a && seq(j + 1) == b) {
                out += (a + "_" + b); j += 2
              } else { out += seq(j); j += 1 }
            }
            seq = out.toArray
            done = seq.length < 2
          }
        }
        seq
      }
    }
    f(text)
  }

  /** T10: HTML boilerplate strip — the extraction step of a web-corpus
    * pipeline (script/style/comment blocks out, tags out, common entities
    * decoded, whitespace collapsed). A pure codegen'd regexp chain:
    * map-side, no shuffle, no UDF. Patterns avoid backreferences so the
    * same regexes run on RE2-based engines (the DuckDB oracle) and
    * java.util.regex identically.
    */
  def htmlStrip(c: Column): Column = {
    val noScript = regexp_replace(c, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (acc, (e, r)) =>
      regexp_replace(acc, e, r)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** P4: per-key document cap — the "at most N pages per domain" rule of
    * crawl curation. Survivors are chosen by deterministic md5 rank
    * (seedless, reproducible). Selection is a bounded-heap TopK
    * aggregation: a hot key (a domain with millions of pages) costs
    * O(cap) state per partition and one merge — never a per-key window
    * sort of all its rows.
    */
  def capPerKey(
      df: DataFrame, keyCol: Column, idCol: Column, cap: Int): DataFrame = {
    val hv = hex32(concat(keyCol, lit("|"), idCol.cast("string")))
    val topk = graft.functions.TopK.longIds(cap)
    df.select(keyCol.as("key"), idCol.cast("long").as("id"), hv.as("hv"))
      // rank by (hv asc, id asc): TopK keeps highest score first, so
      // negate; 32-bit hashes are exact in double
      .groupBy("key")
      .agg(topk(-col("hv").cast("double"), col("id")).as("top"))
      .select(col("key"), explode(col("top")).as("s"))
      .select(col("key"), col("s.id").as("doc_id"))
  }

  /** C4-style line-and-document cleaning (the published C4/"colossal
    * cleaned crawl" heuristics): a LINE survives iff it ends in terminal
    * punctuation (. ! ? or closing quote), has at least `minWords`
    * whitespace words, and doesn't mention javascript; a DOCUMENT
    * survives iff at least `minLines` of its lines survive and the raw
    * text has no curly brace and no "lorem ipsum". `linesCol` is
    * array<string> (split on '\n' upstream).
    *
    * Pure higher-order-function projection — every rule runs inside
    * whole-stage codegen, zero shuffle at any corpus size.
    *
    * Output: (doc_id, n_lines, n_kept, doc_kept, clean_fp) with clean_fp
    * = md5 of surviving lines joined with '\n'.
    */
  def c4Clean(
      df: DataFrame, linesCol: Column, idCol: Column,
      minWords: Int = 5, minLines: Int = 3): DataFrame = {
    val keepLine = (l: Column) =>
      l.rlike("[.!?\"]$") &&
        // WHITESPACE words (tabs count as separators), per the C4 rule
        size(filter(split(l, "\\s+"), w => w =!= lit(""))) >= minWords &&
        !lower(l).contains("javascript")
    val keptArr = filter(linesCol, keepLine)
    val raw = lower(array_join(linesCol, "\n"))
    df.select(idCol.as("doc_id"),
        coalesce(size(linesCol), lit(0)).cast("long").as("n_lines"),
        coalesce(size(keptArr), lit(0)).cast("long").as("n_kept"),
        keptArr.as("_kept"), raw.as("_raw"))
      .withColumn("doc_kept",
        col("n_kept") >= minLines && !col("_raw").contains("{") &&
          !col("_raw").contains("lorem ipsum"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"), col("doc_kept"),
        md5(array_join(coalesce(col("_kept"),
          array().cast("array<string>")), "\n")).as("clean_fp"))
      .orderBy("doc_id")
  }

  /** T14: corpus TF-IDF, top-`k` highest-weighted terms per document.
    *
    * idf is the integer ppm ratio `(1e6·N) div df` rather than its log —
    * the same monotone-in-1/df weight with none of the cross-engine
    * `ln` rounding hazard (ln is not correctly rounded in IEEE; floor of
    * a quantized ln can flip between libm and the JVM; integer division
    * cannot). Score = tf · idf_ppm, exact in a long.
    *
    * Scale: three shuffles, each on bounded keys — (doc, term) pair
    * counts, per-term doc frequency (rows = vocab, skew impossible: one
    * row per term after the first agg), and the final per-doc top-k via
    * the bounded-heap aggregate (never a ranking window). The tf×df join
    * keys on term; stop-word heat concentrates many tf rows on one df row,
    * which AQE skew-split handles (the df side is a single row per key,
    * so replication is free).
    */
  def tfidfTopTerms(
      df: DataFrame, text: Column, idCol: Column, k: Int = 5): DataFrame = {
    // two consumers (dfreq and the scoring join): materialize the tf
    // table once instead of re-running the tokenizer per consumer.
    // Term frequencies come from the per-document kernel (one tiny map
    // per doc), not a corpus-wide (doc, term) hash aggregate — same
    // rows, no occurrence shuffle (see bm25TopK)
    val tf = CacheHooks.materialize(spread(df
      .select(idCol.as("doc_id"),
        explode(graft.functions.ShingleHashes.termCountsStrCol(text)).as("p"))
      .select(col("doc_id"), col("p._1").as("term"), col("p._2").as("tf")),
      col("doc_id")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
    val ndocs = df.agg(count(lit(1)).as("n"))
    val topkFn = graft.functions.TopK.stringIds(k)
    // before the returned Dataset exists (see bigramLikelihood)
    CacheHooks.unpersistAfterFirstUse(tf)
    val out = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(ndocs))
      .withColumn("tfidf", expr("tf * ((1000000 * n) div dfc)"))
      .groupBy("doc_id")
      .agg(topkFn(col("tfidf").cast("double"), col("term")).as("_top"))
      .select(col("doc_id"), explode(col("_top")).as("t"))
      .select(col("doc_id"), col("t.id").as("term"),
        col("t.score").cast("long").as("tfidf"))
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
    out
  }

  /** T22: BM25 top-k retrieval — queries against the document corpus
    * (Robertson & Spärck Jones's probabilistic ranking; the standard
    * tf-saturation × inverse-document-frequency form with k1/b length
    * normalization).
    *
    * Arithmetic is exact-integer milli/ppm units end to end (the same
    * determinism device as [[tfidfTopTerms]]/[[nbClassify]]): the idf is
    * the capped inverse-frequency ratio `(1000·N) div df` (capped at 1e9
    * so rare-term scores also bound the 64-bit product), the tf
    * saturation is `(1e6·tf·(k1+1)) div (1000·tf + K)` with K the usual
    * `k1·(1-b+b·len/avgdl)` in milli-units — so the SQL oracle
    * reproduces every score bit-for-bit and no float summation order
    * matters.
    *
    * Scale: posting lists are the (term, doc) tf table — one shuffle to
    * build, reusable; the query set is small and broadcast, so scoring
    * is a broadcast-hash join against tf plus one (query, doc) partial
    * aggregate; per-query top-k is the bounded-heap aggregate (no
    * ranking window, no global sort). Stop-word-heavy query terms skew
    * onto big posting lists; AQE skew-split applies, and real
    * deployments drop df>threshold terms the same way [[ngramJaccardPairs]]
    * caps postings.
    *
    * Contract: `qIdCol` must be unique per query row. Per-query term
    * de-duplication happens inside the tokenize kernel (distinct mode),
    * so duplicate query ids would double-count their terms' contribs —
    * there is deliberately no row-level distinct on (query_id, term).
    */
  def bm25TopK(
      docs: DataFrame, text: Column, idCol: Column,
      queries: DataFrame, qText: Column, qIdCol: Column,
      k: Int = 5, k1Milli: Long = 1200, bMilli: Long = 750): DataFrame = {
    // postings keyed on 63-bit term hashes, not term strings: 8-byte
    // shuffle/agg keys instead of variable-width text. Same md5-prefix
    // hash on both engines, and 63 bits keeps term identity
    // collision-free in expectation even at a 100 M-term vocabulary —
    // the LM scorers' trick (see bigramLikelihood). Term frequencies
    // are counted INSIDE the kernel (one tiny map per document), so the
    // (doc, term) occurrence explode and its corpus-wide hash aggregate
    // — the top of the t22 executor profile, and at scale a full
    // shuffle of every token occurrence — are gone: the posting table
    // builds map-side with zero shuffle. In-document hash collisions
    // merge identically in both formulations.
    // the posting table is the index — materialize it once (a real
    // deployment persists it); doc lengths, document frequencies and the
    // corpus stats all derive from it without re-running the tokenizer
    val tf = CacheHooks.materialize(spread(docs
      .select(idCol.as("doc_id"),
        explode(graft.functions.ShingleHashes.termCounts64Col(text)).as("p"))
      .select(col("doc_id"), col("p._1").as("term"), col("p._2").as("tf")),
      col("doc_id")))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
    val stats = dl.agg(count(lit(1)).as("n"), sum("len").as("tot"))
    // per-query distinct terms straight from the kernel's distinct mode
    // (rows are already unique per query, so no row-level distinct —
    // one less exchange on the query side)
    val qterms = queries
      .select(qIdCol.as("query_id"),
        explode(graft.functions.ShingleHashes(qText, 1, distinct = true,
          wide = true)).as("term"))
    // before the returned Dataset exists (see bigramLikelihood)
    CacheHooks.unpersistAfterFirstUse(tf)
    val scored = broadcast(qterms)
      .join(tf, Seq("term"))
      .join(dl, Seq("doc_id"))
      .join(broadcast(dfreq.join(broadcast(qterms.select("term").distinct()),
        Seq("term"))), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_milli",
        expr("least((1000 * n) div dfc, 1000000000)"))
      .withColumn("tfnorm_ppm", expr(
        s"(1000000 * tf * (${k1Milli} + 1000)) div " +
        s"(1000 * tf + (${k1Milli} * (1000 - ${bMilli} + " +
        s"(${bMilli} * ((1000000 * len) div ((1000 * tot) div n))) div 1000)) div 1000)"))
      .withColumn("contrib", expr("(idf_milli * tfnorm_ppm) div 1000"))
      .groupBy("query_id", "doc_id")
      .agg(sum("contrib").as("score_ppm"))
    val topkFn = graft.functions.TopK.longIds(k)
    scored
      .groupBy("query_id")
      .agg(topkFn(col("score_ppm").cast("double"), col("doc_id")).as("_top"))
      .select(col("query_id"), posexplode(col("_top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("t.id").as("doc_id"), col("t.score").cast("long").as("score_ppm"))
  }

  /** T15: Naive-Bayes-style text classifier, trained and applied in one
    * plan (the fastText-quality-filter shape: label docs by an existing
    * signal, learn per-class token weights, score everything).
    *
    * Per-token class weight is the Laplace-smoothed integer ppm
    * likelihood `(1e6·(ctc+1)) div (ctot+V)` and a document's class score
    * is the SUM of its token weights plus the prior ppm `(1e6·cdocs) div
    * N` — an additive-likelihood variant of NB (true NB sums logs; the
    * log is replaced by the ppm ratio for the same determinism reason as
    * [[tfidfTopTerms]]). Exact integer arithmetic end to end, so the SQL
    * oracle reproduces every prediction bit-for-bit.
    *
    * Scale: training is one (class, term) count — vocab·classes rows.
    * The model join is left to Catalyst/AQE: at runtime it broadcasts
    * when the model fits `spark.sql.autoBroadcastJoinThreshold` and
    * falls back to a shuffle join when a 100 TB corpus's raw vocabulary
    * doesn't — scores are identical either way (spec-pinned). `minDf`
    * optionally cuts the model vocabulary to terms appearing in at
    * least that many documents (per-class counts, total `ctot` and
    * smoothing `v` all follow the cut model; cut terms score like
    * unseen ones) — the standard lever for keeping the model
    * broadcastable on web-scale text. Scoring re-scans tokens once and
    * takes per-doc argmax with the bounded-heap aggregate. Token-less
    * documents have no evidence and are omitted (same on both engines).
    */
  def nbClassify(
      df: DataFrame, text: Column, idCol: Column,
      labelCol: Column, minDf: Int = 1): DataFrame = {
    // the per-doc term-frequency table feeds training (ctc, and the
    // minDf df-counts) AND scoring — materialize it once (solo A/B:
    // 1.46-1.58 s with vs 1.73-1.77 s re-tokenizing at sf0.1). The
    // (class, term) model below also feeds three consumers (ctot, vocab,
    // the score join) but stays lazy: all three read its one aggregate
    // exchange, which ReuseExchange runs once. Frequencies come from
    // the per-document kernel (see bm25TopK) so no corpus-wide
    // occurrence rows ever exist:
    // per-class counts are sum(tf), document frequencies are plain row
    // counts (tf rows are distinct (doc, term) pairs), and the score
    // sum over occurrences becomes the exact integer w·tf.
    val tf = CacheHooks.materialize(spread(df.select(idCol.as("doc_id"),
      labelCol.as("label"),
      explode(graft.functions.ShingleHashes.termCountsStrCol(text)).as("p"))
      .select(col("doc_id"), col("label"), col("p._1").as("term"),
        col("p._2").as("tf")), col("doc_id")))
    val ctcAll = tf.groupBy(col("label").as("clazz"), col("term"))
      .agg(sum("tf").as("ctc"))
    val ctc =
      if (minDf <= 1) ctcAll
      else {
        val kept = tf.groupBy("term")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") >= minDf)
          .select("term")
        ctcAll.join(kept, Seq("term"), "left_semi")
      }
    val ctot = ctc.groupBy("clazz").agg(sum("ctc").as("ctot"))
    val vocab = ctc.select("term").distinct().agg(count(lit(1)).as("v"))
    val prior = df.groupBy(labelCol.as("clazz"))
      .agg(count(lit(1)).as("cdocs"))
    val ndocs = df.agg(count(lit(1)).as("n"))
    val classes = df.select(labelCol.as("clazz")).distinct()
    // before the returned Dataset exists (see bigramLikelihood)
    CacheHooks.unpersistAfterFirstUse(tf)
    // model pivoted to ONE row per term carrying a per-class count map:
    // the term join then moves |tf| rows instead of |tf|·|classes| (the
    // class expansion happens AFTER the join, map-side via the broadcast
    // cross join), and a missing map entry is exactly the old left-join
    // ctc=0 fill. NO broadcast hint on the model: it still scales with
    // the corpus vocabulary; Catalyst/AQE broadcasts it when it fits.
    // Null-label rows stay out of the map (a null key throws), as they
    // never matched the old (clazz, term) equi-join: collect_list skips
    // the nulls, and unlike a Filter it is not pushed below the ctc
    // aggregate, so the model still shares that aggregate's exchange.
    val mdl = ctc.groupBy("term")
      .agg(map_from_entries(collect_list(when(col("clazz").isNotNull,
        struct(col("clazz"), col("ctc"))))).as("cw"))
    val scored = tf.select("doc_id", "term", "tf")
      .join(mdl, Seq("term"), "left")
      .crossJoin(broadcast(classes))
      .withColumn("ctc", coalesce(element_at(col("cw"), col("clazz")), lit(0L)))
      .join(broadcast(ctot), Seq("clazz"))
      .crossJoin(broadcast(vocab))
      .withColumn("w", expr("(1000000 * (ctc + 1)) div (ctot + v)"))
      // Σ_occurrences w == w · tf exactly (integers)
      .groupBy("doc_id", "clazz").agg(sum(expr("w * tf")).as("s"))
      .join(broadcast(prior), Seq("clazz"))
      .crossJoin(broadcast(ndocs))
      .withColumn("score", expr("s + ((1000000 * cdocs) div n)"))
    val arg1 = graft.functions.TopK.stringIds(1)
    val out = scored.groupBy("doc_id")
      .agg(arg1(col("score").cast("double"), col("clazz")).as("_top"))
      .select(col("doc_id"), element_at(col("_top.id"), 1).as("pred"))
      .join(df.select(idCol.as("doc_id"), labelCol.as("label")),
        Seq("doc_id"))
      .withColumn("hit", (col("pred") === col("label")).cast("long"))
      .orderBy("doc_id")
    out
  }

  /** P8: CCNet-style head/middle/tail perplexity buckets (Wenzek et al.
    * 2020 split the corpus into thirds by LM score per language; training
    * recipes then mix the thirds at different rates). `scoreCol` must be
    * an integer score where HIGHER = better (e.g. [[bigramLikelihood]]'s
    * ppm `lm_score`); buckets are per `groupCol` (language).
    *
    * Cut points are defined on VALUES, not per-doc ranks: T_head = the
    * largest score v whose descending cumulative doc count reaches
    * ceil(n/3), T_mid likewise at 2n/3; a document's bucket is then a
    * pure comparison against the two thresholds. Ties share a bucket, so
    * the result is deterministic on any engine with no per-doc window.
    *
    * Scale: the only window runs over the per-(group, value) count table
    * — its partition size is the score's value cardinality (≤ ~10⁶ for
    * ppm scores), never the row count (same argument as
    * [[lengthQuantiles]]). Thresholds are one tiny frame broadcast back;
    * bucket assignment is map-side.
    */
  def scoreBuckets(
      df: DataFrame, groupCol: Column, scoreCol: Column, idCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the threshold aggregate and the final bucket join both consume
    // `base`, but its upstream exchanges are shared by ReuseExchange
    // within the one plan (measured on p8: a materialize here only
    // added a job at flat task time) — so it stays lazy
    val base = df.select(groupCol.as("grp"),
      scoreCol.cast("long").as("score"), idCol.cast("long").as("doc_id"))
    val cnt = base.groupBy("grp", "score").agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("grp")).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("grp"))
    val cum = cnt.withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
    val cuts = cum.groupBy("grp").agg(
      max(when(col("cum") * 3 >= col("n"), col("score"))).as("t_head"),
      max(when(col("cum") * 3 >= col("n") * 2, col("score"))).as("t_mid"))
    base.join(broadcast(cuts), Seq("grp"))
      .withColumn("bucket",
        when(col("score") >= col("t_head"), lit("head"))
          .when(col("score") >= col("t_mid"), lit("middle"))
          .otherwise(lit("tail")))
      .select("doc_id", "grp", "score", "bucket")
      .orderBy("doc_id")
  }

  /** Canonical URL form for web-corpus dedup: drop the fragment,
    * lowercase scheme and host, strip a leading `www.`, drop default
    * ports (`:80` http, `:443` https), collapse trailing slashes to the
    * bare path (empty path renders `/`), remove tracking parameters
    * (`utm_*`, `fbclid`, `gclid`) and sort the survivors byte-wise.
    * Pure codegen'd built-ins (regexp + array HOFs) — map-side at any
    * scale, and byte-identical to the DuckDB oracle's list_filter/
    * list_sort chain.
    */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val rest = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = regexp_extract(rest, "^([^/?]*)", 1)
    val host = regexp_replace(
      lower(regexp_replace(hostPort, ":[0-9]+$", "")), "^www\\.", "")
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val keepPort = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathQ = regexp_replace(rest, "^[^/?]*", "")
    val path0 = regexp_replace(regexp_extract(pathQ, "^([^?]*)", 1), "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(pathQ, "\\?(.*)$", 1)
    val params = filter(split(query, "&"),
      p => p =!= lit("") && !p.rlike("^(utm_[^=]*|fbclid|gclid)="))
    val sortedQ = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, keepPort, path,
      when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** T16: the full Gopher document gate (Rae et al. 2021, A1.1/A1.2) —
    * the keep/drop DECISION layered over the metric ops, with every
    * threshold compared in INTEGER cross-multiplied form so the verdict
    * is bit-identical on any engine (no float thresholds):
    *   ok_words — 50 ≤ |words| ≤ 100 000;
    *   ok_len   — mean word length in [3, 10] (3n ≤ Σlen ≤ 10n);
    *   ok_stop  — ≥ 2 of Gopher's 8 stopwords present;
    *   ok_alpha — ≥ 80 % of words contain a letter;
    *   ok_rep   — top bigram ≤ 18 % of bigrams AND duplicate trigrams
    *              ≤ 30 % of trigrams (A1.2 repetition rules on our
    *              word-gram metrics).
    * Pure per-document HOF folds — map-side, zero shuffle, same scale
    * shape as [[repetitionMetrics]].
    */
  def gopherGate(df: DataFrame, text: Column, idCol: Column): DataFrame = {
    val g = gopherFlags(text)
    df.select(idCol.as("doc_id"), g.as("g"))
      .select(col("doc_id"), col("g.ok_words").as("ok_words"),
        col("g.ok_len").as("ok_len"), col("g.ok_stop").as("ok_stop"),
        col("g.ok_alpha").as("ok_alpha"), col("g.ok_rep").as("ok_rep"),
        col("g.kept").as("kept"))
      .orderBy("doc_id")
  }

  /** The T16 flags as ONE map-side struct column — shared by the batch
    * [[gopherGate]] and the streaming twin
    * ([[graft.streaming.DocPipeline.ingest]]), so both paths gate with
    * literally the same expressions.
    */
  def gopherFlags(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("long")
    val sumLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
    val gstops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    // DISTINCT stopwords present (Rae et al. A1.1: "contains at least
    // two of" the 8 words) — an occurrence count would pass a document
    // repeating one stopword twice
    val nStop = size(array_intersect(array_distinct(toks),
      array(gstops.map(lit): _*))).cast("long")
    val nAlphaW = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val bigrams = array_sort(
      when(size(toks) >= 2, shingles(toks, 2))
        .otherwise(array().cast("array<string>")))
    val trigrams = when(size(toks) >= 3, shingles(toks, 3))
      .otherwise(array().cast("array<string>"))
    // longest equal-run of the sorted bigram array = max bigram count
    val mx = aggregate(bigrams,
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best")).cast("long")
    val tot = size(bigrams).cast("long")
    val nTri = size(trigrams).cast("long")
    val dupTri = (size(trigrams) - size(array_distinct(trigrams))).cast("long")
    def flag(c: Column) = when(c, lit(1L)).otherwise(lit(0L))
    val okWords = flag(nTok >= 50 && nTok <= 100000L)
    val okLen = flag(lit(3L) * nTok <= sumLen && sumLen <= lit(10L) * nTok)
    val okStop = flag(nStop >= 2)
    val okAlpha = flag(lit(10L) * nAlphaW >= lit(8L) * nTok)
    val okRep = flag(
      (tot === 0 || mx * 100 <= lit(18L) * tot) &&
      (nTri === 0 || dupTri * 100 <= lit(30L) * nTri))
    struct(okWords.as("ok_words"), okLen.as("ok_len"), okStop.as("ok_stop"),
      okAlpha.as("ok_alpha"), okRep.as("ok_rep"),
      (okWords * okLen * okStop * okAlpha * okRep).as("kept"))
  }

  /** T17: vocabulary coverage / OOV rate — the tokenizer-fit diagnostic
    * run before committing a vocab: share of token occurrences outside
    * the corpus's own top-`vocabSize` words, in integer ppm. The vocab
    * is ranked (count desc, word asc) so the cut is deterministic.
    *
    * Scale: vocab = one count agg + TakeOrdered(V) — never a global
    * sort; it then joins back BROADCAST (V rows), so scoring is one
    * map-side join + per-doc partial agg. No per-word shuffle except
    * the vocab count itself.
    */
  def oovRate(
      df: DataFrame, text: Column, idCol: Column,
      vocabSize: Int = 500): DataFrame = {
    val words = df.select(idCol.as("doc_id"), explode(tokens(text)).as("wrd"))
    val vocab = words.groupBy("wrd").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("wrd").asc).limit(vocabSize)
      .select(col("wrd"), lit(1L).as("in_v"))
    words.join(broadcast(vocab), Seq("wrd"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        expr("(1000000 * sum(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END))" +
          " div count(*)").as("oov_ppm"))
      .orderBy("doc_id")
  }

  /** T18: skip-gram (center, context) pair counts — the word2vec
    * training-statistic generator: every ordered pair of words within
    * `window` positions of each other, counted corpus-wide, top-N by
    * count. Pair generation is slice+zip HOFs (map-side, codegen);
    * the count is one partial-agg shuffle keyed by the pair; top-N is
    * TakeOrdered, never a global sort.
    */
  def skipgramPairs(
      df: DataFrame, text: Column, window: Int = 2,
      topN: Int = 100): DataFrame = {
    val toks = tokens(text)
    val n = size(toks)
    // forward pairs at each distance d: (w_i, w_{i+d}); a doc shorter
    // than d+1 tokens yields slice length 0 → empty array, no branch
    def fwd(d: Int) = {
      val len = greatest(n - d, lit(0))
      arrays_zip(slice(toks, lit(1), len), slice(toks, lit(d + 1), len))
    }
    val pairs = df.select(
        explode(flatten(array((1 to window).map(fwd): _*))).as("p"))
      // a context window is symmetric: emit both directions
      .select(explode(array(
        struct(col("p.0").as("center"), col("p.1").as("context")),
        struct(col("p.1").as("center"), col("p.0").as("context")))).as("b"))
      .select(col("b.center").as("center"), col("b.context").as("context"))
    pairs.groupBy("center", "context").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("center").asc, col("context").asc)
      .limit(topN)
  }

  /** P10: domain blocklist filter (spam/ads/adult suffix lists in web
    * pipelines). An entry blocks the exact host and every subdomain
    * (`example.com` blocks `a.b.example.com`, not `notexample.com`).
    * The list is compiled into one codegen'd predicate — like
    * [[graft.ops.Tagger]], zero joins, map-side; for lists beyond ~10⁴
    * entries switch to a broadcast join on the reversed-label prefix.
    */
  def domainFilter(
      df: DataFrame, hostCol: Column, blocked: Seq[String]): DataFrame = {
    val pred = blocked
      .map(d => hostCol === d || hostCol.endsWith("." + d))
      .reduceOption(_ || _).getOrElse(lit(false))
    df.filter(!pred)
  }

  /** T21: WordPiece-style greedy longest-match encode statistics. The
    * vocabulary is the corpus's top-`vocabSize` words of length
    * 2..`maxLen` (count desc, word asc — a total order, so the cut is
    * engine-exact); any position no vocab word covers consumes one
    * character (the char-fallback, WordPiece's [UNK]/byte fallback).
    *
    * Scale: the vocabulary is one count agg + TakeOrdered, collected
    * (≤ vocabSize rows) and compiled into the plan as per-length IN
    * sets; the encode pass is a single codegen'd fold over each
    * document's characters — map-side, zero shuffle, same shape at any
    * corpus size. Greedy longest-match is the WordPiece INFERENCE rule
    * (vs BPE's ranked merges, see [[bpeEncode]]).
    */
  def wordpieceStats(
      df: DataFrame, textCol: Column, idCol: Column,
      vocabSize: Int = 50, maxLen: Int = 12): DataFrame = {
    val vocab: Seq[String] = df
      .select(explode(tokens(textCol)).as("w"))
      .filter(length(col("w")).between(2, maxLen))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(vocabSize)
      .collect().map(_.getString(0)).toSeq
    val byLen: Map[Int, Seq[String]] = vocab.groupBy(_.length)
    val t = lower(textCol)
    val n = length(t)
    // longest-match length at 0-based position i: a when-chain testing
    // the longest lengths OUTERMOST (built innermost-first)
    def mlAt(i: Column): Column =
      (2 to maxLen).foldLeft(lit(1): Column) { (acc, l) =>
        byLen.get(l) match {
          case Some(ws) =>
            when(t.substr(i + 1, lit(l)).isInCollection(ws), lit(l))
              .otherwise(acc)
          case None => acc
        }
      }
    val scan = aggregate(
      sequence(lit(0), n - 1),
      struct(lit(0).as("pos"), lit(0L).as("ntok"), lit(0L).as("nfall")),
      (acc, i) => {
        val ml = mlAt(i)
        when(i =!= acc.getField("pos"), acc).otherwise(
          struct((acc.getField("pos") + ml).as("pos"),
            (acc.getField("ntok") + 1).as("ntok"),
            (acc.getField("nfall") +
              when(ml === 1, 1L).otherwise(0L)).as("nfall")))
      })
    df.select(idCol.cast("long").as("doc_id"),
      when(n === 0, lit(0L)).otherwise(scan.getField("ntok"))
        .as("n_tokens"),
      when(n === 0, lit(0L)).otherwise(scan.getField("nfall"))
        .as("n_char_fallbacks"))
      .orderBy("doc_id")
  }
}
