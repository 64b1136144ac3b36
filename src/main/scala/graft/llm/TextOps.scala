package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Text-analysis operators for training-data pipelines (NEW — no reference
  * counterpart; SURVEY §7 build item 10). All pure `functions._` Column
  * expressions: codegen'd, shuffle-free, 100 TB-safe (per-row work only).
  */
object TextOps {

  /** Whitespace tokens of the lowercased text. */
  def tokens(c: Column): Column = split(lower(c), " ")

  /** Unicode-normalize a string column (codegen'd; form NFC/NFD/NFKC/NFKD).
    * Run it BEFORE any hash-based dedup or tokenizer training: composed
    * and decomposed spellings of the same text are byte-different, so
    * unnormalized corpora leak duplicates past exact dedup, MinHash, and
    * BPE word tables. NFC is the storage-canonical choice (and the one
    * DuckDB replays); NFKC additionally folds compatibility forms
    * (ligatures, full-width, superscripts) — the usual choice before
    * tokenization. Map-only: 100 TB-safe. */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column =
    ColumnBridge.column(graft.expressions.UnicodeNormalize(
      ColumnBridge.expression(c), form))

  /** Raw-web text extraction (HTML/markup → text; codegen'd single-pass
    * scanner, contract in [[graft.expressions.ExtractText]]): drops
    * comments/CDATA/script/style, turns block tags into line breaks,
    * decodes entities once, collapses whitespace. `maxLinkDensity < 1`
    * additionally drops boilerplate lines whose anchor-text share exceeds
    * the threshold (nav bars, footers, link farms). The ingestion front
    * door: run this FIRST, then normalizeUnicode, then quality/dedup.
    * Map-only: 100 TB-safe. */
  def extractText(c: Column, maxLinkDensity: Double = 1.0): Column =
    ColumnBridge.column(graft.expressions.ExtractText(
      ColumnBridge.expression(c), maxLinkDensity))

  /** Let-binding for Column expressions: evaluates `value` ONCE per row and
    * hands it to `body` as a lambda variable. Catalyst's subexpression
    * elimination does not cross lambda boundaries, so any computed array
    * referenced inside a higher-order-function lambda is re-inlined — and
    * recomputed — PER ELEMENT; binding it as the element of a one-element
    * `transform` makes every inner reference a variable read. */
  private[llm] def bound(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Distinct word n-gram shingles. The token array is let-bound: without
    * it, `slice(tokens, ...)` inside the lambda re-splits the whole text
    * once per shingle — O(tokens²) per document (measured ~6× on the
    * minhash pipeline at sf0.1). */
  def shingles(c: Column, n: Int): Column =
    bound(tokens(c)) { t =>
      array_distinct(
        when(size(t) >= n,
          transform(sequence(lit(0), size(t) - n),
            i => concat_ws(" ", slice(t, i + 1, lit(n)))))
          .otherwise(array()))
    }

  /** Distinct 64-bit hashes of the word n-gram shingles: one xxhash64 pass
    * over [[shingles]]. Downstream set ops (Jaccard, minhash seeding) run
    * over longs — identical sets modulo 64-bit collisions, with no string
    * comparisons or string shuffle payloads. (Hashing the token TUPLE via
    * multi-arg xxhash64 + element_at was tried and is ~2× slower: the
    * array references inside the lambda defeat subexpression sharing.) */
  def shingleHashes(c: Column, n: Int): Column =
    transform(shingles(c, n), s => xxhash64(s))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** Overlapping token-window chunks for context-bounded training samples:
    * windows of `chunkTokens` tokens starting every `chunkTokens -
    * overlapTokens`, the last window short. Returns
    * `array<struct<n_tokens int, chunk string>>` in document order — explode
    * with `posexplode` for (chunk_idx, chunk) rows. Pure per-row expression:
    * chunking 100 TB is a map-only pass. */
  def chunks(c: Column, chunkTokens: Int, overlapTokens: Int): Column = {
    require(chunkTokens > overlapTokens && overlapTokens >= 0,
      s"need chunkTokens > overlapTokens >= 0, got ($chunkTokens, $overlapTokens)")
    val step = chunkTokens - overlapTokens
    bound(tokens(c)) { toks =>
      val n = greatest(lit(1),
        ceil((size(toks) - lit(overlapTokens)).cast("double") / step).cast("int"))
      transform(sequence(lit(0), n - 1), i => {
        val piece = slice(toks, i * step + 1, lit(chunkTokens))
        struct(size(piece).as("n_tokens"), array_join(piece, " ").as("chunk"))
      })
    }
  }

  /** BPE-ish token count: alpha runs, single digits, punctuation marks each
    * count as one token (a cheap stand-in for subword tokenizers). */
  def tokenCountBpe(c: Column): Column =
    regexp_count(lower(c), lit("[a-z]+|[0-9]|[^a-z0-9 ]"))

  /** Ratio of non-alphanumeric-non-space chars to all chars. */
  def punctRatio(c: Column): Column =
    regexp_count(lower(c), lit("[^a-z0-9 ]")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "auf", "nicht")
  val EsStop: Seq[String] = Seq("el", "la", "de", "y", "es", "un", "en", "que", "los", "por")
  val FrStop: Seq[String] = Seq("le", "la", "de", "et", "est", "un", "en", "que", "les", "pour")

  /** Release a rerooted intermediate after its consumers have been
    * re-anchored: a RELIABLE checkpoint's files must be DELETED (unpersist
    * alone leaves them on storage until cleanCheckpoints + GC — the
    * `Bpe.release` discipline); a localCheckpoint just drops its blocks. */
  private def releaseReroot(spark: org.apache.spark.sql.SparkSession,
      reliable: Boolean, frame: org.apache.spark.sql.DataFrame): Unit =
    if (reliable) ColumnBridge.reliableCheckpointFile(frame).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    } else ColumnBridge.unpersistCheckpoint(frame)

  private def stopHits(c: Column, words: Seq[String]): Column =
    size(array_intersect(tokens(c), array(words.map(lit): _*)))

  /** Ratio of distinct english stopwords present to tokens. */
  def stopwordRatio(c: Column): Column =
    stopHits(c, EnStop).cast("double") / greatest(tokenCount(c), lit(1)).cast("double")

  /** n-gram/stopword language-ID heuristic: CJK charset ⇒ zh, else the
    * stoplist with the most distinct hits (precedence en>de>es>fr on ties). */
  def langId(c: Column): Column = {
    val en = stopHits(c, EnStop); val de = stopHits(c, DeStop)
    val es = stopHits(c, EsStop); val fr = stopHits(c, FrStop)
    when(c.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Heuristic quality score in [0,1]: length band + punctuation sanity +
    * mean word length band (the usual cheap pre-filters before model-based
    * scoring). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val meanLen = length(c).cast("double") / greatest(nTok, lit(1.0))
    val lengthOk = when(nTok >= 10 && nTok <= 10000, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(c) <= 0.2, 1.0).otherwise(0.0)
    val wordOk = when(meanLen >= 2.0 && meanLen <= 12.0, 1.0).otherwise(0.0)
    round((lengthOk + punctOk + wordOk) / 3.0, 4)
  }

  /** Per-group quantile calibration of a score column: raw quality scores
    * are not comparable across sources (a mediocre document from a clean
    * source outscores a good one from a noisy source on any absolute
    * scale), so thresholding a mixed corpus on the raw score silently
    * over-selects the clean sources. `percent_rank` WITHIN the group maps
    * every score onto [0, 1] relative to its own source — one corpus-wide
    * threshold then keeps the same FRACTION of every source. Ties share a
    * rank (deterministic regardless of physical order). Scale shape: one
    * exchange + sort per group partition — exact ranks need it; for
    * corpora where a per-group global sort is too hot, the bucketed
    * CCNet-style path ([[pplBuckets]]) is the approximate alternative. */
  def calibrateByGroup(df: DataFrame, scoreCol: Column, groupCol: String,
      outCol: String = "calibrated"): DataFrame =
    df.withColumn(outCol, round(percent_rank().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(scoreCol)), 6))

  /** The Gopher document-quality rule set (Rae et al. 2021 §A1.1.2 —
    * public knowledge), as one struct of per-rule metrics plus the overall
    * verdict. Rules: word count in `[minWords, maxWords]`; mean word
    * length in [3, 10]; symbol-to-word ratio (`#` and `...`) ≤ 0.1;
    * bullet-started lines ≤ 90%; ellipsis-ended lines ≤ 30%; ≥ 80% of
    * words contain an alphabetic character; ≥ 2 distinct English
    * stopwords present.
    *
    * All-Column implementation over let-bound token/line arrays (each
    * split runs once, not per rule); the counting formulas avoid
    * higher-order lambdas where a replace/length identity exists. Empty
    * documents fail the word-count rule and divide by a guarded 1. */
  def gopherRules(c: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column =
    bound(filter(tokens(c), t => t =!= "")) { toks =>
      bound(split(c, "\n")) { lines =>
        val nWords = size(toks)
        val safeWords = greatest(nWords, lit(1)).cast("double")
        val meanWordLen =
          length(regexp_replace(c, " ", "")).cast("double") / safeWords
        val symbolRatio =
          ((length(c) - length(regexp_replace(c, "#", ""))).cast("double") +
            (length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / lit(3.0)) /
            safeWords
        val nLines = greatest(size(lines), lit(1)).cast("double")
        val bulletRatio = size(filter(lines, l =>
          startswith(ltrim(l), lit("- ")) || startswith(ltrim(l), lit("* "))))
          .cast("double") / nLines
        val ellipsisRatio = size(filter(lines, l =>
          endswith(rtrim(l), lit("...")))).cast("double") / nLines
        val alphaRatio = size(filter(toks, t => t.rlike("[a-z]")))
          .cast("double") / safeWords
        val stops = size(array_intersect(toks, array(EnStop.map(lit): _*)))
        struct(
          nWords.as("n_words"),
          round(meanWordLen, 4).as("mean_word_len"),
          round(symbolRatio, 4).as("symbol_ratio"),
          round(bulletRatio, 4).as("bullet_line_ratio"),
          round(ellipsisRatio, 4).as("ellipsis_line_ratio"),
          round(alphaRatio, 4).as("alpha_word_ratio"),
          stops.as("stopword_hits"),
          (nWords >= minWords && nWords <= maxWords &&
            meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
            symbolRatio <= 0.1 &&
            bulletRatio <= 0.9 && ellipsisRatio <= 0.3 &&
            alphaRatio >= 0.8 && stops >= 2).as("passes"))
      }
    }

  /** CCNet-style n-gram language-model scoring (Wenzek et al. 2019's
    * quality signal, with the stupid-backoff estimator of Brants et al.
    * 2007 — both public knowledge): train a bigram LM on a TARGET slice
    * (the "clean" distribution — a Wikipedia-like subset), then score
    * every corpus document by its mean per-bigram log-probability.
    * `S(w2|w1) = c(w1w2)/c(w1)` when the bigram was seen, else
    * `0.4 · (c(w2)+α)/(N+αV)` (smoothed-unigram backoff; `V` = target
    * vocabulary, `N` = target token count). Higher is more
    * target-like; `exp(−score)` is the conventional perplexity. Documents
    * with fewer than two tokens score null (no bigrams exist).
    *
    * Scale shape: the model is two count aggregations over the TARGET
    * (map-side combine; bigram/unigram-vocabulary-sized results) plus two
    * scalars. Scoring explodes corpus bigrams once and joins the count
    * tables keyed by words — benchmark-sized targets broadcast under AQE,
    * Wikipedia-sized ones shuffle-join with AQE's skew handling absorbing
    * stopword-heavy keys; the per-doc mean partially aggregates before
    * its one doc-keyed exchange. Rounded to 4 decimals (cross-engine
    * libm discipline). */
  def ngramLmScore(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, target: org.apache.spark.sql.DataFrame,
      targetTextCol: String,
      alpha: Double = 1.0): org.apache.spark.sql.DataFrame = {
    require(alpha > 0, "alpha smoothing must be positive")
    def toks(c: Column) = filter(tokens(c), t => t =!= "")
    def bigrams(c: Column) = bound(toks(c)) { ts =>
      // greatest-guard: slice() rejects negative lengths on empty docs
      val len = greatest(size(ts) - 1, lit(0))
      zip_with(slice(ts, lit(1), len), slice(ts, lit(2), len),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val tgtToks = target
      .select(explode(toks(col(targetTextCol))).as("_gf_w"))
    val uni = tgtToks.groupBy(col("_gf_w")).agg(count(lit(1)).as("_gf_c"))
    val totals = uni.agg(
      coalesce(sum("_gf_c"), lit(0L)), count(lit(1))).head()
    val (n, v) = (totals.getLong(0).toDouble, totals.getLong(1).toDouble)
    val bi = target
      .select(explode(bigrams(col(targetTextCol))).as("_gf_p"))
      .groupBy(col("_gf_p.w1").as("_gf_w1"), col("_gf_p.w2").as("_gf_w2"))
      .agg(count(lit(1)).as("_gf_c12"))
    val corpusBi = corpus
      .select(col(idCol), explode(bigrams(col(textCol))).as("_gf_p"))
      .select(col(idCol), col("_gf_p.w1").as("_gf_w1"),
        col("_gf_p.w2").as("_gf_w2"))
    val scoredBi = corpusBi
      .join(bi, Seq("_gf_w1", "_gf_w2"), "left")
      .join(uni.select(col("_gf_w").as("_gf_w1"), col("_gf_c").as("_gf_c1")),
        Seq("_gf_w1"), "left")
      .join(uni.select(col("_gf_w").as("_gf_w2"), col("_gf_c").as("_gf_c2")),
        Seq("_gf_w2"), "left")
      .select(col(idCol),
        when(col("_gf_c12").isNotNull,
            col("_gf_c12").cast("double") / col("_gf_c1"))
          .otherwise(lit(0.4) * (coalesce(col("_gf_c2"), lit(0L)) + alpha) /
            lit(n + alpha * v))
          .as("_gf_s"))
    val scores = scoredBi.groupBy(idCol)
      .agg(round(avg(log(col("_gf_s"))), 4).as("lm_logprob"))
    corpus.join(scores, Seq(idCol), "left")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2019 §4.3): score the
    * corpus with the target-trained bigram LM ([[ngramLmScore]]) and label
    * each document by score quantile — `ppl_bucket` 1 (head: closest to
    * the target) through `nBuckets` (tail); the standard "keep the head,
    * sample the middle, drop or down-weight the tail" quality-mixing
    * control, with `nBuckets = 3` the canonical CCNet split. Documents too
    * short to score (< 2 tokens → null logprob) land in the tail bucket —
    * an unscorable doc is not head-quality evidence.
    *
    * Output is NARROW — `(id, lm_logprob, ppl_bucket)`, one row per corpus
    * doc (join back by id for the rest) — so the intermediates stay
    * bytes-per-doc-sized at any corpus size.
    *
    * Scale shape: the cutoffs aggregate and the returned frame each
    * consume the scoring dataflow, so by DEFAULT the [[ngramLmScore]]
    * pipeline runs twice (both passes fully parallel);
    * `persistIntermediate = true` checkpoints the narrow scores frame
    * once (~16 bytes/doc), feeds both consumers from it, and releases the
    * blocks before returning — the [[tfidfTopTerms]] discipline. On top:
    * n−1 quantile SCALARS of the rounded score (one aggregate — exact
    * `percentile` for oracle-small runs; the mergeable approxQuantile
    * sketch at 100 TB, the [[filterByTokenQuantiles]] split) and a
    * map-only when-chain assignment. Ties on a threshold take the better
    * bucket, so the labeling is deterministic and engine-replayable. */
  def perplexityBuckets(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, target: org.apache.spark.sql.DataFrame,
      targetTextCol: String, nBuckets: Int = 3, exact: Boolean = false,
      approxError: Double = 0.001,
      persistIntermediate: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(nBuckets >= 2, "need at least two buckets")
    val spark = corpus.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def reroot(frame: org.apache.spark.sql.DataFrame) =
      if (reliable) frame.checkpoint(true) else frame.localCheckpoint(true)
    val scored0 = ngramLmScore(corpus, idCol, textCol, target, targetTextCol)
      .select(col(idCol), col("lm_logprob"))
    val scored = if (persistIntermediate) reroot(scored0) else scored0
    // cutoff k separates bucket k from k+1: the (1 − k/n) quantile, so
    // bucket 1 holds the top 1/n of scores (both engines' exact quantile
    // is the linearly-interpolated one; inputs are the 4-decimal-rounded
    // scores, so the interpolation is identical)
    val qs = (1 until nBuckets).map(k => 1.0 - k.toDouble / nBuckets)
    val cutoffs: Seq[Double] =
      if (exact) {
        val aggs = qs.map(q => percentile(col("lm_logprob"), lit(q)))
        val r = scored.agg(aggs.head, aggs.tail: _*).head()
        if (r.isNullAt(0)) Nil else qs.indices.map(r.getDouble)
      } else scored.stat
        .approxQuantile("lm_logprob", qs.toArray, approxError).toSeq
    // no cutoffs = nothing was scorable: everything is tail
    val bucket = cutoffs.zipWithIndex.reverse
      .foldLeft(lit(nBuckets)) { case (acc, (c, i)) =>
        when(col("lm_logprob") >= c, lit(i + 1)).otherwise(acc)
      }
    val result = scored.withColumn("ppl_bucket", bucket)
    if (!persistIntermediate) result
    else {
      val rerooted = reroot(result)
      releaseReroot(spark, reliable, scored)
      rerooted
    }
  }

  /** One-row corpus card — the numbers a dataset README leads with:
    * document/token counts, language and source cardinalities, the exact-
    * duplicate rate (1 − distinct normalized fingerprints / docs), and
    * exact token-count quantiles. One aggregation pass (count-distincts
    * expand to Spark's standard multi-distinct rewrite; the percentile
    * aggregate is the oracle-parity exact mode — swap to approxQuantile
    * at 100 TB, like [[filterByTokenQuantiles]]'s sketch mode). */
  def corpusReport(df: org.apache.spark.sql.DataFrame, textCol: String,
      langCol: String, sourceCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(textCol).as("_gf_text"), col(langCol).as("_gf_lang"),
        col(sourceCol).as("_gf_src"),
        tokenCount(col(textCol)).cast("double").as("_gf_tc"),
        fingerprint(col(textCol)).as("_gf_fp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_gf_tc")).cast("long").as("total_tokens"),
        countDistinct(col("_gf_lang")).as("n_langs"),
        countDistinct(col("_gf_src")).as("n_sources"),
        round(lit(1.0) - countDistinct(col("_gf_fp")).cast("double") /
          count(lit(1)), 4).as("exact_dup_rate"),
        percentile(col("_gf_tc"), lit(0.5)).as("p50_tokens"),
        percentile(col("_gf_tc"), lit(0.9)).as("p90_tokens"))

  /** BM25 retrieval over the corpus (Robertson–Walker Okapi weighting,
    * the `k1`/`b` form everyone ships — public knowledge): rank the top
    * `k` documents for every query in `queries`. Uses the non-negative
    * idf variant `ln(1 + (N − df + 0.5)/(df + 0.5))` (Lucene's choice) so
    * stopword-saturated terms cannot produce negative scores.
    *
    * Scale shape: the token array and its length materialize behind ONE
    * repartition barrier (the `minHashLshPairs` idiom — without it,
    * CollapseProject inlines the interpreted token filter into the
    * post-explode projection and the whole-document lambda re-runs once
    * per TOKEN: measured 27.8 s for this query at 500k docs, the round-8
    * `ivfFit` bug class). The exploded stream then filters map-side
    * through a broadcast semi-join against the query-term list (query
    * sets are human-sized) BEFORE any aggregation, so tf, document
    * frequencies, and scoring all run over matching-postings-sized data.
    * A two-scan alternative (bare explode + a map-only `(doc, dl)` join,
    * no corpus-sized exchange at all) measured 8.4 s vs this shape's
    * 5.6 s at 500k docs and tied at 5M — one pruned scan plus one
    * token-array exchange beats two scans on measured hardware; revisit
    * on a cluster where network shuffle dominates storage reads. The
    * barrier exchange is load-bearing, not only an optimizer fence: its
    * doc-id partitioning satisfies the tf AND score aggregations'
    * clustering, so neither re-shuffles — an r13 A/B that swapped it for
    * a persist-based barrier (warm-JIT pass, identical output; record in
    * OPTIMIZATION_r13.md) measured 0.497 s (exchange) vs 0.543 s
    * (persist) at sf0.1 and was rejected. Per-(query, doc)
    * partial sums aggregate map-side; the final ranking is the bounded
    * top-k aggregate
    * ([[Similarity.topKPerQuery]] — no window, no full sort). Scores are
    * rounded to 4 decimals before ranking (cross-engine libm discipline;
    * rank ties break on doc id).
    *
    * Output: `(query_id, rank, doc_id, score)`. */
  def bm25(corpus: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queries: org.apache.spark.sql.DataFrame,
      queryIdCol: String, queryTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(k > 0 && k1 >= 0 && b >= 0 && b <= 1, "bad BM25 parameters")
    def toks(c: Column) = filter(tokens(c), t => t =!= "")
    val qTerms = queries
      .select(col(queryIdCol).as("query_id"),
        explode(toks(col(queryTextCol))).as("_gf_t"))
      .distinct()
    val stats = corpus.agg(count(lit(1)).as("_gf_n"),
      avg(size(toks(col(textCol)))).as("_gf_avgdl")).head()
    val (n, avgdl) = (stats.getLong(0).toDouble,
      Option(stats.get(1)).fold(1.0)(_ => math.max(stats.getDouble(1), 1e-9)))
    // repartition = deliberate optimizer barrier (see scaladoc), then the
    // query-term semi-join lands BEFORE the tf aggregation so only
    // occurrences of query terms ever shuffle; partitioning by doc id is
    // reused by the aggregation's clustering requirement
    val base = corpus
      .select(col(idCol).as("_gf_doc"), toks(col(textCol)).as("_gf_ts"))
      .select(col("_gf_doc"), col("_gf_ts"), size(col("_gf_ts")).as("_gf_dl"))
      .repartition(col("_gf_doc"))
    val matched = base
      .select(col("_gf_doc"), explode(col("_gf_ts")).as("_gf_t"), col("_gf_dl"))
      .join(broadcast(qTerms.select("_gf_t").distinct()), Seq("_gf_t"), "left_semi")
      .groupBy("_gf_doc", "_gf_t", "_gf_dl")
      .agg(count(lit(1)).as("_gf_tf"))
    // postings are unique on (doc, term), so df is a plain count
    val dfByTerm = matched.groupBy("_gf_t")
      .agg(count(lit(1)).as("_gf_df"))
    val scored = matched
      .join(broadcast(qTerms), Seq("_gf_t"))
      .join(broadcast(dfByTerm), Seq("_gf_t"))
      .select(col("query_id"), col("_gf_doc"),
        (log(lit(1.0) + (lit(n) - col("_gf_df") + 0.5) / (col("_gf_df") + 0.5)) *
          (col("_gf_tf") * (k1 + 1.0)) /
          (col("_gf_tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("_gf_dl") / lit(avgdl))))
          .as("_gf_s"))
      .groupBy("query_id", "_gf_doc")
      .agg(round(sum("_gf_s"), 4).as("sim"))
      .select(col("query_id"), col("_gf_doc").as("neighbor_id"), col("sim"))
    Similarity.topKPerQuery(scored, k)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"),
        col("sim").as("score"))
  }

  /** Whitespace-normalized content fingerprint (md5). Exact-dup detection
    * robust to whitespace differences. */
  def fingerprint(c: Column): Column =
    md5(trim(regexp_replace(lower(c), "\\s+", " ")).cast("binary"))

  /** Quantile-trimmed corpus: keep documents whose token count lies within
    * the [loQ, hiQ] quantiles — the standard outlier trim (fragments and
    * run-on concatenations) before training. Two modes:
    *
    *  - `exact = false` (the 100 TB path): thresholds from
    *    `approxQuantile` — a single-pass mergeable Greenwald-Khanna sketch,
    *    relative error `approxError`. The filter itself is map-only.
    *  - `exact = true`: Spark's exact `percentile` aggregate, which buffers
    *    the metric column per partition — the oracle/small-scale mode, the
    *    same split as brute-force vs LSH pair generation.
    *
    * The thresholds are two scalars (an aggregate, not a collect); the
    * corpus never moves. */
  def filterByTokenQuantiles(df: org.apache.spark.sql.DataFrame, textCol: String,
      loQ: Double, hiQ: Double, exact: Boolean = false,
      approxError: Double = 0.001): org.apache.spark.sql.DataFrame = {
    require(0.0 <= loQ && loQ <= hiQ && hiQ <= 1.0, s"bad quantiles [$loQ, $hiQ]")
    val withTc = df.withColumn("_gf_tc", tokenCount(col(textCol)).cast("double"))
    // empty corpus / all-null metric: no quantiles exist — nothing to trim
    val bounds: Option[(Double, Double)] =
      if (exact) {
        val r = withTc.agg(
          percentile(col("_gf_tc"), lit(loQ)), percentile(col("_gf_tc"), lit(hiQ))).head()
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((r.getDouble(0), r.getDouble(1)))
      } else {
        val a = withTc.stat.approxQuantile("_gf_tc", Array(loQ, hiQ), approxError)
        if (a.length < 2) None else Some((a(0), a(1)))
      }
    bounds match {
      case None => df
      case Some((lo, hi)) =>
        withTc.where(col("_gf_tc") >= lo && col("_gf_tc") <= hi).drop("_gf_tc")
    }
  }

  // RE2-compatible patterns (no backrefs/lookaround) so the same regex runs
  // in Spark (java.util.regex) and columnar engines for oracle parity
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  /** PII scrub: redact emails and URLs to placeholder tags — the standard
    * pre-training redaction pass. Pure regexp_replace: map-only at 100 TB. */
  def scrubPii(c: Column): Column =
    regexp_replace(regexp_replace(c, UrlRe, "<URL>"), EmailRe, "<EMAIL>")

  /** Count of PII spans that [[scrubPii]] would redact: URLs, then emails
    * counted AFTER URL removal — an email embedded in a URL is one span,
    * matching the scrub order. */
  def piiCount(c: Column): Column =
    regexp_count(c, lit(UrlRe)) +
      regexp_count(regexp_replace(c, UrlRe, "<URL>"), lit(EmailRe))

  /** Duplicated n-gram fraction in [0,1] (Gopher-style repetition signal):
    * 1 - distinct/total over word n-grams; 0 for texts shorter than n
    * tokens. High values flag boilerplate/spam for filtering. */
  def repetitionRatio(c: Column, n: Int): Column = {
    val t = tokens(c)
    val total = (size(t) - lit(n) + 1).cast("double")
    val distinctN = size(shingles(c, n)).cast("double") // shingles are distinct
    when(total <= 0, 0.0).otherwise(round(lit(1.0) - distinctN / total, 4))
  }

  /** Corpus-level token frequency top-k — the vocabulary-building
    * primitive (what a BPE/unigram trainer consumes as its seed counts).
    * One shuffle with map-side combine (explode → partial count per token
    * per partition), then a global bounded top-k (`TakeOrderedAndProject`,
    * k rows per partition cross the wire). Ties at the boundary break by
    * token, so the result is deterministic at any scale. */
  def vocabTopK(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame =
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1L)).as("freq"))
      .orderBy(col("freq").desc, col("token")).limit(k)

  /** Per-document top-k TF-IDF keywords: `(id, rank, token, score)` with
    * `score = round(tf × ln(N / df), 4)`, ranked by (score DESC, token) —
    * ranking on the ROUNDED score so the order is reproducible across
    * engines (two libm `ln`s may differ in the last ulp).
    *
    * Dataflow: tf = one count keyed (doc, token); df = one count keyed
    * token over the tf table (one row per (doc, token), so `count` IS the
    * document frequency — partial aggregation absorbs hot tokens, no
    * posting-list group ever materializes); join tf⋈df keyed token (the df
    * side is vocabulary-sized — Spark/AQE broadcasts it); per-doc top-k via
    * collect+array_sort, whose per-group state is ONE document's distinct
    * tokens — bounded by document length, not corpus size, so no group can
    * straggle.
    *
    * The tf table feeds two consumers (the df count and the join). Both
    * branches canonicalize to the SAME token-repartition exchange (the df
    * count is deliberately anchored on tf/id references so column pruning
    * cannot specialize its subtree into a bare distinct), so AQE's
    * exchange reuse runs the corpus tf pass ONCE — the only other corpus
    * touch is the column-less document count (parquet answers it from
    * footers; a graft-table scan from its aggregate pushdown). On a
    * runtime with exchange reuse disabled the branches fall back to two
    * fully parallel, skew-free passes; `persistIntermediate = true` then
    * trades storage for the second pass: tf is checkpointed once
    * (reliable dir if `sparkContext.setCheckpointDir` was called, else an
    * eager local checkpoint), both consumers read the materialized table,
    * and the blocks are released before returning — same discipline as
    * [[Dedup.fuzzyDedup]]. Measured guidance (BASELINE.md §round-10):
    * with exchange reuse on (any default Spark), leave the knob OFF —
    * at 500k docs the default single pass ran 6.7 s vs 10.2 s with the
    * checkpoint, which only pays when reuse is disabled or the plan is
    * consumed more than once.
    *
    * CAPACITY GUARD: the checkpoint materializes the corpus-sized tf table
    * — ~300M rows at 5M docs KILLED an 8 GiB driver JVM under a LOCAL
    * checkpoint (blocks pin executor-shared memory; measured, BASELINE.md
    * §round-10). The knob therefore refuses when the estimated tf row
    * count (docs × sampled avg distinct tokens) exceeds
    * `persistMaxEstRows` under a LOCAL checkpoint; a RELIABLE checkpoint
    * dir (`sparkContext.setCheckpointDir`) spills to storage instead of
    * memory and is not capped. Raise the cap only with heap to match
    * (~48 GiB held the 300M-row materialization). */
  def tfidfTopTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int,
      persistIntermediate: Boolean = false,
      persistMaxEstRows: Long = 100000000L): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def reroot(frame: org.apache.spark.sql.DataFrame) =
      if (reliable) frame.checkpoint(true) else frame.localCheckpoint(true)
    val n = df.count()
    if (persistIntermediate && !reliable) {
      val row = df.limit(1000)
        .select(avg(size(array_distinct(tokens(col(textCol)))))).head()
      val avgDistinct = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
      val est = (n * avgDistinct).toLong
      require(est <= persistMaxEstRows,
        s"persistIntermediate would locally checkpoint ~$est (doc, token) " +
          s"rows (> $persistMaxEstRows): with exchange reuse enabled the " +
          "knob is unnecessary (the tf pass already runs once) -- leave it " +
          "off, set a reliable checkpoint dir " +
          "(sparkContext.setCheckpointDir) to spill to storage instead of " +
          "memory, or raise persistMaxEstRows with heap to match " +
          "(BASELINE.md round-10: 300M rows killed an 8 GiB JVM)")
    }
    val tf0 = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1L)).as("tf"))
      .repartition(col("token"))
    val tf = if (persistIntermediate) reroot(tf0) else tf0
    // df anchored on (tf, id) references — NOT count(1) — so column pruning
    // cannot specialize this branch into a bare distinct under the token
    // repartition: both consumers' exchange subtrees then canonicalize
    // identically and exchange reuse runs the corpus tf pass ONCE (the
    // count is over rows where tf >= 1 and the doc id is non-null, i.e.
    // every row — null document ids are not supported, as everywhere in
    // this library)
    val dfreq = tf.groupBy("token")
      .agg(count(when(col("tf") >= 1, col(idCol))).as("df"))
    val scored = tf.join(dfreq, "token")
      .withColumn("score", round(col("tf") * log(lit(n.toDouble) / col("df")), 4))
    // struct sort is lexicographic by field: (-score, token) ascending =
    // score descending, ties to the lexicographically smaller token
    val result = scored.groupBy(col(idCol))
      .agg(collect_list(struct((-col("score")).as("ns"), col("token"),
        col("score"))).as("ts"))
      .select(col(idCol), posexplode(slice(array_sort(col("ts")), 1, k)))
      .select(col(idCol), (col("pos") + 1).cast("int").as("rank"),
        col("col.token").as("token"), col("col.score").as("score"))
      .orderBy(col(idCol), col("rank"))
    if (!persistIntermediate) result
    else {
      val rerooted = reroot(result)
      releaseReroot(spark, reliable, tf)
      rerooted
    }
  }

  /** Per-document duplicated-text fraction (the RefinedWeb/Dolma-style
    * filter signal): the share of a document's distinct OVERLAPPING word
    * n-grams that also occur in at least `minOtherDocs` other documents.
    * Complements [[dropRepeatedPassages]], whose fixed non-overlapping
    * chunks miss offset-shifted duplication (the weakness suffix-array
    * dedup targets) — overlapping n-grams catch any alignment at n-token
    * granularity, and the per-doc fraction is the usual filter threshold
    * ("drop documents that are mostly boilerplate") where passage removal
    * edits documents in place. Output `(idCol, ngrams, duplicated,
    * dup_fraction)`; documents with fewer than n tokens report 0 n-grams
    * and fraction 0.
    *
    * Scale shape: one exchange keyed by the n-gram with map-side partial
    * aggregation (hot boilerplate n-grams combine before the shuffle),
    * one join back and a per-doc aggregate — the same two-pass shape as
    * [[dropRepeatedPassages]]. At extreme scale swap the string key for
    * [[shingleHashes]] (8-byte exchange payloads, 64-bit-collision
    * tolerant); the string key keeps this exactly SQL-replayable. */
  def duplicatedTextFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minOtherDocs: Int = 1): DataFrame = {
    require(n > 0 && minOtherDocs > 0,
      s"need n > 0 and minOtherDocs > 0, got ($n, $minOtherDocs)")
    // shingles() is per-doc DISTINCT, so each (doc, gram) row is unique
    // and count-per-gram == distinct docs carrying it
    val x = df.select(col(idCol), explode(shingles(col(textCol), n)).as("_gf_g"))
    val freq = x.groupBy("_gf_g").agg(count(lit(1)).as("_gf_dn"))
    val perDoc = x.join(freq, "_gf_g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("ngrams"),
        sum(when(col("_gf_dn") >= minOtherDocs + 1, 1L).otherwise(0L))
          .as("duplicated"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("ngrams"), lit(0L)).as("ngrams"),
        coalesce(col("duplicated"), lit(0L)).as("duplicated"),
        round(coalesce(col("duplicated").cast("double") /
          greatest(col("ngrams"), lit(1L)).cast("double"), lit(0.0)), 6)
          .as("dup_fraction"))
  }

  /** Exact duplicated-SPAN removal (the ExactSubstr direction of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models Better",
    * at word-n-gram granularity): where [[duplicatedTextFraction]] only
    * SCORES cross-document duplication and [[dropRepeatedPassages]] drops
    * whole fixed windows, this edits the duplicated spans OUT of every
    * document — any token covered by an overlapping word n-gram that occurs
    * in at least `minDocs` distinct documents is removed, and the survivors
    * re-join in document order. Adjacent/overlapping duplicated n-grams
    * merge into maximal spans for free (interval union = the covered-index
    * set union), so a verbatim shared paragraph disappears wholesale at ANY
    * alignment — including the offset-shifted duplication that defeats
    * fixed non-overlapping windows. Output `(idCol, n_tokens,
    * removed_tokens, textCol)`: original token count, tokens cut, and the
    * cleaned text (lowercased, single-space-rejoined — the same
    * normalization every tokens()-based op applies). Documents shorter than
    * n tokens pass through (normalized) untouched; a wholly-duplicated
    * document keeps its row with empty text. Removal can CREATE new
    * adjacent n-grams across a cut, so a second pass may find stragglers —
    * same as suffix-array dedup, which also iterates to a fixed point.
    *
    * Scale shape (r13 optimization round): NOTHING corpus-sized is ever
    * exchanged. The positional n-gram table is generated and immediately
    * joined against the (small, AQE-broadcast) duplicated-gram set — only
    * the HIT rows (duplicated-gram occurrences, rare in clean corpora)
    * survive into a per-document `collect_list` of start positions, so the
    * only data-bearing exchanges carry (gram, count) partial aggregates and
    * hit positions. Covered-index expansion, survivor filtering and
    * reassembly all happen INSIDE the document row (interval expansion +
    * `array_except` over positional indices — hash-set build over the
    * covered set, one linear scan of the token array); the previous shape
    * shuffled one row per TOKEN into a collect_list reassembly, which at
    * 100 TB is the whole corpus through one exchange. At extreme scale set
    * `hashGrams = true`: both the positional table and the duplicated-gram
    * set exchange 64-bit xxhash keys instead of gram strings (identical
    * output modulo xxhash64 collisions — a collision can only OVER-remove,
    * never miss a real duplicate); the default string key keeps the op
    * exactly SQL-replayable.
    *
    * `unit = "char"` switches to CHARACTER k-grams over the RAW text —
    * the full ExactSubstr granularity: word n-grams cannot see
    * duplication that crosses token boundaries differently in each copy
    * (a shared span glued to different prefixes/suffixes tokenizes into
    * different words in every document carrying it; LlmSpec holds the
    * counter-proof pair). Char mode removes covered CHARACTERS and
    * rejoins with no separator, preserves case/whitespace of the
    * survivors (no tokens() normalization), and reports `n_tokens`/
    * `removed_tokens` in characters. Pick `n` like ExactSubstr's length
    * threshold (tens of characters, e.g. 20–50), not like the word
    * default of 3 — at tiny char n everything is a duplicate. The
    * positional exchange is one row per CHARACTER (≈5× the word rows):
    * `hashGrams = true` is the documented companion at scale. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minDocs: Int = 2, hashGrams: Boolean = false,
      unit: String = "word"): DataFrame = {
    require(n > 0 && minDocs >= 2,
      s"need n > 0 and minDocs >= 2, got ($n, $minDocs)")
    require(unit == "word" || unit == "char",
      s"unit must be word|char (got $unit)")
    val chars = unit == "char"
    def key(g: Column): Column = if (hashGrams) xxhash64(g) else g
    val sep = if (chars) "" else " "
    val toks = df.select(col(idCol),
      (if (chars) filter(split(coalesce(col(textCol), lit("")), ""),
         x => length(x) > 0)
       else tokens(col(textCol))).as("_gf_t"))
    // positional overlapping n-grams: (id, 0-based start, gram)
    val pos = toks.select(col(idCol), posexplode(bound(col("_gf_t")) { t =>
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n),
          i => key(concat_ws(sep, slice(t, i + 1, lit(n))))))
        .otherwise(array())
    }).as(Seq("_gf_p", "_gf_g")))
    // duplicated grams: distinct-doc count via per-doc-distinct shingles
    // (count-per-gram == docs carrying it, as in duplicatedTextFraction);
    // char mode derives them from the positional table (no word-shingle
    // helper applies to raw characters)
    val dup = (if (chars) pos.select(col(idCol), col("_gf_g")).distinct()
      else df.select(col(idCol),
        explode(if (hashGrams) shingleHashes(col(textCol), n)
          else shingles(col(textCol), n)).as("_gf_g")))
      .groupBy("_gf_g").agg(count(lit(1)).as("_gf_dn"))
      .where(col("_gf_dn") >= minDocs).select("_gf_g")
    // duplicated-gram OCCURRENCE start positions, one small row per
    // AFFECTED document (hits are rare in clean corpora; a wholly-
    // duplicated doc contributes one int per token — still bounded by the
    // doc, never by the corpus)
    val hits = pos.join(dup, "_gf_g")
      .groupBy(col(idCol))
      .agg(collect_list(col("_gf_p")).as("_gf_hits"))
    // survivor filter + reassembly inside the document row: expand each hit
    // to its covered interval [p, p+n-1], take the interval union
    // (array_distinct), and keep the tokens at positions NOT covered —
    // array_except builds a hash set over the covered indices and preserves
    // the ascending order of the position sequence, so the rejoin is in
    // document order with no per-token exchange and no collect_list
    toks.join(hits, Seq(idCol), "left")
      .select(col(idCol), size(col("_gf_t")).cast("long").as("n_tokens"),
        bound(coalesce(col("_gf_t"),
          array().cast("array<string>"))) { t =>
          bound(transform(array_except(
              when(size(t) >= 1, sequence(lit(0), size(t) - 1))
                .otherwise(array().cast("array<int>")),
              array_distinct(flatten(transform(
                coalesce(col("_gf_hits"), array().cast("array<int>")),
                p => sequence(p, p + lit(n - 1)))))),
            i => element_at(t, i + 1))) { keptToks =>
            struct(size(keptToks).cast("long").as("_gf_kept"),
              array_join(keptToks, sep).as("_gf_text"))
          }
        }.as("_gf_k"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - col("_gf_k._gf_kept")).as("removed_tokens"),
        col("_gf_k._gf_text").as(textCol))
  }

  /** [[removeDuplicatedSpans]] to a FIXED POINT: removal can create new
    * cross-document n-grams at the cut seams (two documents that shared a
    * span and agree around it collapse onto the same seam text), so one
    * pass can leave stragglers — the same reason suffix-array dedup
    * iterates. Re-runs until a pass removes nothing or `maxPasses` is hit,
    * whichever first; each pass localCheckpoints (or reliable-checkpoints
    * under a configured checkpoint dir) so the lineage — and the positional
    * n-gram exchange it would replay — never stacks across passes. Output
    * matches [[removeDuplicatedSpans]]'s shape with `n_tokens` the ORIGINAL
    * count and `removed_tokens` accumulated across passes. */
  def removeDuplicatedSpansToFixedPoint(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, minDocs: Int = 2, maxPasses: Int = 4,
      hashGrams: Boolean = false): DataFrame = {
    require(maxPasses >= 1, s"need maxPasses >= 1, got $maxPasses")
    val spark = df.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def reroot(frame: DataFrame) =
      if (reliable) frame.checkpoint(true) else frame.localCheckpoint(true)
    def totalRemoved(f: DataFrame): Long =
      f.agg(coalesce(sum(col("removed_tokens")), lit(0L))).head.getLong(0)
    var cur = reroot(
      removeDuplicatedSpans(df, idCol, textCol, n, minDocs, hashGrams))
    var prevRemoved = totalRemoved(cur)
    var pass = 1
    while (prevRemoved > 0 && pass < maxPasses) {
      // fold this pass's cuts into the running totals; n_tokens stays the
      // ORIGINAL document length
      val next = reroot(cur.select(col(idCol), col("n_tokens"),
          col("removed_tokens").as("_gf_prev"))
        .join(removeDuplicatedSpans(cur.select(col(idCol), col(textCol)),
            idCol, textCol, n, minDocs, hashGrams)
          .withColumnRenamed("n_tokens", "_gf_nt"), Seq(idCol))
        .select(col(idCol), col("n_tokens"),
          (col("_gf_prev") + col("removed_tokens")).as("removed_tokens"),
          col(textCol)))
      val total = totalRemoved(next)
      val converged = total == prevRemoved
      prevRemoved = total
      cur = next
      pass += 1
      if (converged) return cur
    }
    cur
  }

  /** Corpus-wide repeated-passage removal (the C4/RefinedWeb hygiene step:
    * boilerplate — headers, footers, license blocks — repeats VERBATIM
    * across many documents; drop the repeated passage, keep the document).
    * Documents split into non-overlapping `windowTokens`-token passages
    * ([[chunks]] with zero overlap, a map-only pass); passages occurring
    * more than `maxOccurrences` times across the WHOLE corpus are removed
    * from every document; surviving passages re-join in document order.
    * Documents whose every passage was boilerplate drop out of the result.
    *
    * Scale shape: one corpus-keyed count with partial aggregation (hot
    * boilerplate passages combine map-side — no posting list ever
    * materializes), then a left_anti join against the VIOLATING passage
    * set, which is tiny for any sane threshold, so AQE broadcasts it;
    * reassembly's per-group state is one document's passages. Like
    * [[tfidfTopTerms]], the passage table feeds two optimizer-specialized
    * consumers — default is two parallel corpus passes;
    * `persistIntermediate = true` checkpoints it once and releases the
    * blocks before returning. Measured guidance (BASELINE.md §round-10):
    * the knob WINS at scale here — 12.3 s vs 25.9 s at 5M docs (2.1×) —
    * because unlike [[tfidfTopTerms]] the two consumers cannot share an
    * exchange (the chunk table has no shuffle beneath it to reuse). */
  def dropRepeatedPassages(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, windowTokens: Int, maxOccurrences: Int = 1,
      persistIntermediate: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(windowTokens > 0 && maxOccurrences > 0,
      s"need windowTokens > 0 and maxOccurrences > 0, got ($windowTokens, $maxOccurrences)")
    val spark = df.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def reroot(frame: org.apache.spark.sql.DataFrame) =
      if (reliable) frame.checkpoint(true) else frame.localCheckpoint(true)
    val chunked0 = df.select(col(idCol),
        posexplode(chunks(col(textCol), windowTokens, 0)).as(Seq("_gf_cidx", "_gf_c")))
      .select(col(idCol), col("_gf_cidx"), col("_gf_c.chunk").as("_gf_chunk"))
    val chunked = if (persistIntermediate) reroot(chunked0) else chunked0
    val repeated = chunked.groupBy("_gf_chunk").agg(count(lit(1L)).as("_gf_n"))
      .where(col("_gf_n") > maxOccurrences).select("_gf_chunk")
    val kept = chunked.join(repeated, Seq("_gf_chunk"), "left_anti")
    val result = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("_gf_cidx"), col("_gf_chunk")))),
        s => s.getField("_gf_chunk")), " ").as(textCol))
    if (!persistIntermediate) result
    else {
      val rerooted = reroot(result)
      releaseReroot(spark, reliable, chunked)
      rerooted
    }
  }

  /** Winnowing-style rolling-hash fingerprint set (k-gram char windows, keep
    * window minima) — driver for near-dup sketching; plain Scala for tests
    * and a Column variant via shingle hashing. */
  def rollingFingerprints(text: String, k: Int = 8, window: Int = 4): Set[Long] = {
    val s = text.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ").trim
    if (s.length < k) return Set(graft.meta.transforms.Murmur3.hashBytes(
      s.getBytes("UTF-8")).toLong)
    val hashes = (0 to s.length - k).map(i =>
      graft.meta.transforms.Murmur3.hashBytes(s.substring(i, i + k).getBytes("UTF-8")).toLong)
    hashes.sliding(window).map(_.min).toSet
  }
}
