package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (NEW; SURVEY §7 item 10). Shapes are chosen for
  * 100 TB: exact dedup is one hash shuffle; MinHash/SimHash candidate
  * generation is banded so the only join is an equi-join on band buckets
  * (shuffle-bounded, no cross joins); the brute-force pair generators exist
  * as oracles/verifiers for small-to-medium inputs.
  */
object Dedup {
  import org.apache.spark.sql.graft.ColumnBridge

  // functions.shiftleft/shiftright only take Int shift amounts; these accept columns
  private def shiftR(c: Column, n: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftRight(
      ColumnBridge.expression(c), ColumnBridge.expression(n)))
  private def shiftL(c: Column, n: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      ColumnBridge.expression(c), ColumnBridge.expression(n)))

  /** Exact dedup: keep ONE lowest-id row per distinct value of `on`.
    * Skew-safe shape: a single min_by aggregation over the whole row —
    * partial aggregation collapses a hot key to one candidate row per
    * input partition BEFORE the only shuffle, so even a pathological key
    * moves O(partitions) rows, unlike a window which sorts ALL rows of a
    * hot key in one task. Exactly one survivor per key by construction
    * ((key, id) ties break arbitrarily, like the window form's tied
    * row_number). Null-safe: rows with a null key form their own group. */
  def exactDedup(df: DataFrame, idCol: String, on: Column): DataFrame =
    df.groupBy(on.as("_gf_key"))
      .agg(min_by(struct(df.columns.map(col).toIndexedSeq: _*), col(idCol)).as("_gf_row"))
      // min_by skips null ordering values: a group whose ids are ALL null
      // aggregates to a null struct — drop it rather than expanding a
      // phantom all-null row
      .where(col("_gf_row").isNotNull)
      .select(col("_gf_row.*"))

  /** Per-duplicate-group stats: keeper id + member count. */
  def exactDupGroups(df: DataFrame, idCol: String, on: Column): DataFrame =
    df.groupBy(on.as("_gf_key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))
      .drop("_gf_key")

  /** Eval-set decontamination (GPT/Gopher-style): drop every corpus
    * document sharing ANY word n-gram with the eval set. Scale shape: the
    * eval side collapses to a distinct set of 64-bit shingle hashes (eval
    * sets are benchmark-sized — broadcastable), the corpus explodes its
    * hashes map-side into a broadcast semi-join, and the contaminated-id
    * set anti-joins back. Two map passes over the corpus text, no
    * corpus-sized shuffle. Exact modulo 64-bit hash collisions. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      evalSet: DataFrame, evalTextCol: String, n: Int = 3): DataFrame = {
    val evalHashes = evalSet
      .select(explode(TextOps.shingleHashes(col(evalTextCol), n)).as("_gf_h"))
      .distinct()
    val contaminated = corpus
      .select(col(idCol), explode(TextOps.shingleHashes(col(textCol), n)).as("_gf_h"))
      .join(broadcast(evalHashes), Seq("_gf_h"), "left_semi")
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-benchmark contamination AUDIT — [[decontaminate]] tells you which
    * corpus docs to drop; this tells you how exposed each eval set is
    * (contamination has to be REPORTED per benchmark before anyone trusts
    * an eval number). One row per benchmark in `evalSets`:
    * `eval_docs`, `eval_docs_contaminated` (share ≥1 word n-gram with the
    * corpus), `corpus_docs_hit` (corpus docs touching that benchmark),
    * `eval_shingles_hit` (distinct leaked n-grams), `contamination_rate`.
    * Benchmarks with zero overlap still report (zeros).
    *
    * Scale shape: eval sets are benchmark-sized, so every join keeps them
    * on the broadcast side. The corpus contributes ONE map pass (explode
    * shingle hashes → broadcast semi-join against the distinct eval
    * hashes); only matching (corpus doc, hash) survivors — contamination-
    * sized, not corpus-sized — reach the distinct/aggregate stages. Exact
    * modulo 64-bit hash collisions, like [[decontaminate]]. */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
      evalSets: DataFrame, benchCol: String, evalIdCol: String,
      evalTextCol: String, n: Int = 3): DataFrame = {
    val evalHashes = evalSets
      .select(col(benchCol).as("bench"), col(evalIdCol).as("_gf_eid"),
        explode(TextOps.shingleHashes(col(evalTextCol), n)).as("_gf_h"))
      .distinct()
    // one corpus map pass; survivors are contamination-sized
    val corpusHits = corpus
      .select(col(idCol).as("_gf_cid"),
        explode(TextOps.shingleHashes(col(textCol), n)).as("_gf_h"))
      .join(broadcast(evalHashes.select("_gf_h").distinct()), Seq("_gf_h"),
        "left_semi")
    val hits = corpusHits
      .join(broadcast(evalHashes), Seq("_gf_h"))
    val agg = hits.groupBy("bench").agg(
      countDistinct("_gf_eid").as("_gf_ec"),
      countDistinct("_gf_cid").as("corpus_docs_hit"),
      countDistinct("_gf_h").as("eval_shingles_hit"))
    // totals come from evalSets itself: zero-shingle eval docs (too short
    // to form an n-gram) and untouched benchmarks must still count
    val totals = evalSets.groupBy(col(benchCol).as("bench"))
      .agg(countDistinct(col(evalIdCol)).as("eval_docs"))
    totals.join(agg, Seq("bench"), "left")
      .select(col("bench"), col("eval_docs"),
        coalesce(col("_gf_ec"), lit(0L)).as("eval_docs_contaminated"),
        coalesce(col("corpus_docs_hit"), lit(0L)).as("corpus_docs_hit"),
        coalesce(col("eval_shingles_hit"), lit(0L)).as("eval_shingles_hit"),
        round(coalesce(col("_gf_ec"), lit(0L)).cast("double") /
          col("eval_docs"), 4).as("contamination_rate"))
  }

  /** Brute-force word-n-gram Jaccard pairs ≥ `threshold` (exact; O(n²) —
    * the verification oracle. Use [[minHashLshPairs]] at scale). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6): DataFrame = {
    val sh = df.select(col(idCol).as("id"), TextOps.shingles(col(textCol), n).as("sh"))
    val a = sh.as("a"); val b = sh.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .withColumn("jaccard",
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash signature from a shingle-array column: each shingle STRING is
    * hashed once (`xxhash64`), then the `numHashes` seeded functions rehash
    * that 8-byte long — long-input hashing is codegen'd arithmetic with no
    * per-(shingle,function) string allocation, so signature cost is one
    * string pass plus numHashes cheap long passes. Pure expressions — no
    * UDF, no shuffle. Pass a *materialized* shingle column (not the shingle
    * expression itself) or Catalyst will inline the shingle computation into
    * all `numHashes` lambdas. */
  def minHashSignature(shCol: Column, numHashes: Int): Column =
    minHashSignatureFromHashes(transform(shCol, s => xxhash64(s)), numHashes)

  /** Signature from PRE-HASHED shingles (array<long>): one codegen'd loop
    * over the shingle hashes folding all `numHashes` seeded minima into a
    * primitive accumulator ([[graft.expressions.MinHashSignature]] — the
    * interpreted HOF fold it replaces allocated an H-long array per
    * shingle; LlmSpec pins the two bit-exact). */
  def minHashSignatureFromHashes(hsCol: Column, numHashes: Int): Column =
    ColumnBridge.column(graft.expressions.MinHashSignature(
      ColumnBridge.expression(hsCol), numHashes))

  /** The interpreted HOF fold [[minHashSignatureFromHashes]] replaced —
    * kept as the parity oracle. */
  private[graft] def minHashSignatureFromHashesHof(hsCol: Column,
      numHashes: Int): Column =
    aggregate(hsCol,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, i) => least(m, xxhash64(h, i))))

  /** MinHash + LSH banding near-dup pairs (shingle → minhash → band →
    * bucket equi-join → exact-Jaccard verification; the canonical
    * shuffle-bounded shape). With bands×rowsPerBand hashes, a pair with
    * Jaccard j is caught with prob 1-(1-j^rows)^bands. */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.6, maxBucketSize: Int = 0): DataFrame = {
    val numHashes = bands * rowsPerBand
    // the repartition is a deliberate optimization barrier: without it,
    // CollapseProject inlines the shingle+signature expressions into every
    // band reference (exponential expression blowup); with it, signatures
    // materialize once and the three consumers share a ReusedExchange.
    // Shingles are hashed to longs BEFORE the barrier: the exchange carries
    // 8-byte hashes instead of shingle strings, and the exact-Jaccard verify
    // runs set ops over longs (same sets modulo 64-bit collisions).
    // r13 A/B (warm-JIT pass, identical output; record in
    // OPTIMIZATION_r13.md): this exchange 0.745 s vs an RDD-level persisted
    // barrier 0.786 s vs a CacheManager persist 0.710 s at sf0.1 — the only
    // variant that beats the exchange cannot ship (CacheManager entries are
    // keyed by canonicalized plan, so repeated calls would silently REUSE
    // the first call's blocks — cross-run result caching — and they pin
    // executor storage for the session). First-run-order A/Bs that showed the
    // persist winning by 15% were JIT bias; the barrier stays an exchange.
    val base = df.select(col(idCol).as("id"),
        TextOps.shingleHashes(col(textCol), n).as("sh"))
      .repartition(col("id"))
      .withColumn("sig", minHashSignatureFromHashes(col("sh"), numHashes))
    val shDF = base.select(col("id"), col("sh"))
    // bands carry only (id, band, bucket) — shingle arrays don't ride the
    // candidate-generation shuffle
    // xxhash64 hashes the long-array slice structurally — no string
    // rendering of signature values
    val allBands = base.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
        .as(Seq("band", "bucket")))
    // skew guard (OPT-IN, maxBucketSize > 0; default 0 = exact recall): a
    // degenerate bucket of b members (boilerplate, empty shingle sets,
    // templated text) makes the self-join emit b² candidates — on a 100 TB
    // corpus one such bucket is a job-killing straggler, so set a cap there.
    // Capping TRADES RECALL: members of a dropped bucket pair only through
    // their other bands. Run exact dedup first so giant true-dup clusters
    // collapse before they ever form a bucket. The count rides the same
    // (band, bucket) exchange the join needs.
    val banded = if (maxBucketSize > 0) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
      allBands.withColumn("_gf_n", count(lit(1)).over(w))
        .where(col("_gf_n") <= maxBucketSize).drop("_gf_n")
    } else allBands
    val a = banded.as("a"); val b = banded.as("b")
    val candidates = a.join(b,
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(shDF.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shDF.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** 64-bit SimHash of the token multiset: bit i is the sign of the sum of
    * ±1 contributions from each token's hash bit i. Single expression tree
    * (aggregate over tokens), no shuffle. */
  def simHash64(textCol: Column): Column = {
    val toks = TextOps.tokens(textCol)
    val counters = aggregate(toks,
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (c, i) => c + when(shiftR(h, i.cast("int")).bitwiseAND(lit(1L)) === 1L, 1)
            .otherwise(-1))
      })
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)),
        (c, i) => when(c > 0, shiftL(lit(1L), i.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs: 4×16-bit LSH bands on the fingerprint, verified
    * by Hamming distance ≤ `maxHamming` (bit_count of xor). */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6, maxBucketSize: Int = 0): DataFrame = {
    val withSim = df.select(col(idCol).as("id"), simHash64(col(textCol)).as("simhash"))
    val allBands = withSim.select(col("id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => shiftR(col("simhash"), (b * 16).cast("int")).bitwiseAND(lit(0xffffL))))
        .as(Seq("band", "bucket")))
    // same degenerate-bucket guard as [[minHashLshPairs]]
    val banded = if (maxBucketSize > 0) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
      allBands.withColumn("_gf_n", count(lit(1)).over(w))
        .where(col("_gf_n") <= maxBucketSize).drop("_gf_n")
    } else allBands
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Brute-force embedding-cosine near-dup pairs ≥ `threshold` (exact;
    * use [[Similarity.lshBuckets]]-style banding at scale). */
  def embeddingCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val a = v.as("a"); val b = v.as("b")
    a.join(b, col("a.id") < col("b.id"))
      .withColumn("sim", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("sim"), 4).as("sim"))
  }

  /** Embedding-cosine near-dup pairs AT SCALE: the O(n²) cross join of
    * [[embeddingCosinePairs]] collapses to per-list self-joins. Vectors
    * are assigned to their `assignTo` nearest IVF lists (frozen k-means
    * quantizer — same machinery as [[Similarity.ivfFit]]); a pair is
    * examined only when some list holds both sides, so candidate cost is
    * ~`assignTo² / nLists` of the cross join. Multiprobe assignment
    * (`assignTo` ≥ 2) catches near-dups straddling a centroid boundary —
    * two vectors at cosine ≥ 0.9 almost always share one of their top-2
    * lists (recall gated in LlmSpec). Pairs found through several shared
    * lists dedupe on (id_a, id_b). `nLists < 0` sizes lists from the
    * corpus count; at 100 TB fit the quantizer on a sample.
    *
    * Skew guard (OPT-IN, `maxListSize` > 0; default 0 = exact per-list
    * joins): a mode-collapsed corpus puts ~everything in one list and its
    * self-join goes quadratic — the classic straggler. Oversized lists are
    * SPLIT, not truncated: members sub-bucket by `ceil(log2(size/cap))`
    * sign-bit hyperplanes ([[Similarity.bucketOf]] — a secondary quantizer
    * level), and one join side probes every sub-bucket within Hamming
    * radius 1, so per-list join cost drops from size² to
    * ~(planes+1)·size·cap while a cosine-0.9 pair still collides in a
    * probed sub-bucket with ≥ ~0.9 probability per shared list (and pairs
    * get `assignTo` independent lists). No vector is dropped; the split
    * volume is logged. */
  def embeddingNearDupPairsBucketed(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nLists: Int = -1, assignTo: Int = 2,
      iters: Int = 2, maxListSize: Int = 0): DataFrame = {
    val n = if (nLists > 0) nLists else Similarity.listsFor(df.count())
    val cents = Similarity.ivfFit(df, idCol, vecCol, n, iters)
    val m = math.min(math.max(1, assignTo), cents.size)
    val assigned = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      explode(Similarity.nearestLists(col(vecCol), cents, m)).as("list"))
    val a0 = assigned.as("a"); val b0 = assigned.as("b")
    val joined =
      if (maxListSize <= 0)
        a0.join(b0, col("a.list") === col("b.list") && col("a.id") < col("b.id"))
      else {
        // per-list membership counts: n rows to the driver (n = list count,
        // never corpus-sized); partial aggregation keeps the pass cheap
        val sizes = assigned.groupBy("list").count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val planesByList = skewPlanes(sizes, maxListSize)
        if (planesByList.isEmpty)
          a0.join(b0, col("a.list") === col("b.list") && col("a.id") < col("b.id"))
        else {
          val splitVol = planesByList.keys.map(sizes).sum
          org.slf4j.LoggerFactory.getLogger(getClass).info(
            s"embedding near-dup skew guard: splitting ${planesByList.size} " +
              s"list(s) holding $splitVol assignment(s) over cap $maxListSize " +
              s"into 2^p sign-bit sub-buckets, (list,p)=" +
              planesByList.toSeq.sorted.mkString(","))
          val (keyed, probes) =
            subBucketed(assigned, planesByList, cents)
          probes.as("a").join(keyed.as("b"),
            col("a.list") === col("b.list") && col("a._sub") === col("b._sub") &&
              col("a.id") < col("b.id"))
        }
      }
    joined
      .withColumn("sim", Similarity.cosine(col("a.v"), col("b.v")))
      .filter(col("sim") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("sim"), 4).as("sim"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Skew-guard plane counts: lists over `cap` members get
    * `ceil(log2(size/cap))` sign-bit planes (bounded at 24 — a list 16M×
    * over cap is a data bug, not a splitting problem). */
  private[graft] def skewPlanes(sizes: Map[Int, Long], cap: Int): Map[Int, Int] =
    sizes.collect {
      case (l, c) if c > cap =>
        l -> math.min(24,
          math.ceil(math.log(c.toDouble / cap) / math.log(2.0)).toInt)
    }

  /** Sub-bucket `assigned` (id, v, list) rows of skewed lists by per-list
    * sign-bit hyperplane hashes of the RESIDUAL `v − centroid(list)`.
    * Hashing the residual, not the raw vector, is what makes the split
    * work: in a mode-collapsed list every raw direction points at the
    * centroid, so random planes rarely cut between members — residuals are
    * isotropic around the centroid, each plane splits ~50/50, and a true
    * near-dup pair's residuals stay almost parallel (tiny flip odds).
    * Returns `(keyed, probes)`: `keyed` adds `_sub` (the row's sub-bucket —
    * first `p(list)` sign bits; 0 in non-split lists), `probes` explodes
    * each row to its own sub-bucket plus every 1-bit flip of it
    * (Hamming-radius-1 multiprobe — `p+1` rows in split lists, exactly 1
    * elsewhere). A near-dup pair lands in some probed (list, _sub) cell
    * whenever its sign vectors differ in ≤ 1 of the p bits; the per-cell
    * self-join is what bounds the work. */
  private[graft] def subBucketed(assigned: DataFrame,
      planesByList: Map[Int, Int], cents: Seq[Seq[Double]]): (DataFrame, DataFrame) = {
    val pMax = planesByList.values.max
    val planes = Similarity.hyperplanes(pMax, cents.head.size, seed = 4242L)
    // rows in a non-split list get p=0 → sub-bucket 0, ONE probe mask (0):
    // the uniform code path adds no rows and no sign-bit folds there
    val pCol = coalesce(element_at(typedLit(planesByList), col("list")), lit(0))
    // the residual array is read by every plane fold — let-bound so it is
    // computed once per row, not once per plane (TextOps.bound)
    val residual = zip_with(col("v"),
      element_at(typedLit(cents), col("list") + 1),
      (x, c) => x.cast("double") - c)
    val bits = when(pCol > 0,
      TextOps.bound(residual)(r => Similarity.bucketOf(r, planes)))
      .otherwise(lit(0))
    val sub = bits.bitwiseAND(call_function("shiftleft", lit(1), pCol) - 1)
    val keyed = assigned.withColumn("_p", pCol).withColumn("_sub", sub)
    val probes = keyed.withColumn("_sub", explode(
      transform(sequence(lit(0), col("_p")), i =>
        when(i === 0, col("_sub")).otherwise(
          col("_sub").bitwiseXOR(call_function("shiftleft", lit(1), i - 1))))))
    (keyed.drop("_p"), probes.drop("_p"))
  }

  /** Drop the higher id of every near-dup pair from `df`. */
  def removeDuplicates(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** Connected components over near-dup candidate pairs — the step real
    * fuzzy-dedup pipelines run AFTER LSH: pairwise matches are not
    * transitive (A~B, B~C but A≁C), so keeping "one per pair" either
    * over-deletes or leaves duplicates; the correct unit is the connected
    * component of the candidate graph, keeping one canonical doc per
    * component.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — converges in
    * O(log n) rounds on any graph (vs O(diameter) for naive label
    * propagation), each round a constant number of hash-partitioned
    * aggregations. No driver-side graph state: the driver loop only reads
    * a (count, hash-sum) fixpoint probe per round, so a 100 TB candidate
    * graph never leaves the executors.
    *
    * Returns `(id, component)` for every node that appears in `pairs`,
    * where `component` is the smallest id in the node's component (the
    * component root maps to itself). Nodes absent from `pairs` are
    * untouched — join the result back to the corpus with a left join
    * (see [[componentIds]]).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIterations: Int = 30,
      smallGraphThreshold: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = pairs.sparkSession

    // undirected edge set, self-loop-free, as (u, v) rows both ways
    def symmetrize(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))

    // large-star: every neighbor v > u of node u re-points to
    // m(u) = min(N(u) ∪ {u}). Strictly-larger-only keeps the edge set from
    // oscillating; min over an unordered window partition needs no sort.
    def largeStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy("u")
      symmetrize(e)
        .withColumn("m", least(col("u"), min("v").over(w)))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: with edges directed larger→smaller, every smaller
    // neighbor (and u itself) re-points to the minimum of that star.
    def smallStar(e: DataFrame): DataFrame = {
      val w = Window.partitionBy("u")
      val directed = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      directed
        .withColumn("m", min("v").over(w))
        .select(explode(array(
          struct(col("u"), col("m").as("v")),
          struct(col("v").as("u"), col("m").as("v")))).as("s"))
        .select(col("s.u"), col("s.v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // cheap fixpoint probe: (row count, order-independent hash sum). A
    // sum-of-64-bit-hash collision would stop one round early on an
    // unconverged graph — with distinct edge sets the probability is
    // ~2^-64 per round, far below any hardware error rate. The sum runs in
    // decimal(38,0) so it cannot overflow under ANSI mode at any edge count.
    def probe(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }

    var edges = pairs.select(col(idA).cast("long").as("u"),
        col(idB).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .persist()
    var signature = probe(edges)
    // small-graph fast path (the candidate-pair graph of a deduped corpus is
    // normally FAR smaller than the corpus): below the threshold, a driver
    // union-find replaces ~log(n) Spark rounds — same exact result, none of
    // the per-round job overhead. The count comes from the probe we need
    // anyway. Large graphs take the distributed loop.
    if (signature._1 > 0 && signature._1 <= smallGraphThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // iterative find + compression: an adversarial edge order can build a
      // chain as long as the edge count, and recursion would blow the stack
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val next = parent(c); parent(c) = r; c = next }
        r
      }
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      edges.unpersist()
      import spark.implicits._
      return nodes.toSeq.map(v => (v, find(v))).toDF("id", "component")
    }
    var converged = signature._1 == 0L
    var iters = 0
    // whether `edges` is OUR localCheckpoint (round frames) vs the initial
    // persist over the CALLER's plan — the checkpoint release walks the
    // plan for LogicalRDD leaves, and on the initial frame that walk would
    // reach (and drop) checkpointed inputs the CALLER still owns
    var edgesCheckpointed = false
    def releaseEdges(df: DataFrame): Unit =
      if (edgesCheckpointed) ColumnBridge.unpersistCheckpoint(df)
      else df.unpersist(blocking = true)
    while (!converged && iters < maxIterations) {
      // localCheckpoint truncates the O(iterations) lineage so round N's
      // plan does not re-derive rounds 1..N-1 (on a cluster with
      // re-computation concerns, a reliable checkpoint dir slots in here)
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = probe(next)
      releaseEdges(edges)
      edges = next
      edgesCheckpointed = true
      converged = nextSig == signature
      signature = nextSig
      iters += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIterations rounds")
    // at the fixpoint every edge is (member, root): members point straight
    // at their component minimum, and roots appear only on the right side
    val result = edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")).distinct())
      .distinct()
    // release the loop's storage blocks. A localCheckpoint's blocks ARE its
    // lineage, so the result must be re-rooted before the last round's
    // frame can be dropped:
    //  - with a checkpoint dir configured (any real cluster run), a
    //    reliable checkpoint writes the component map (two longs per
    //    duplicate doc) to FS and pins NOTHING in executor storage;
    //  - without one, an eager localCheckpoint of the RESULT keeps exactly
    //    one small frame pinned instead of accumulating a loop frame per
    //    connectedComponents call.
    // NOTE on reliable-checkpoint FILES: Spark only deletes checkpoint dirs
    // when `spark.cleaner.referenceTracking.cleanCheckpoints=true` (plus GC
    // of the RDD); without it the component-map files stay under the
    // checkpoint dir until the caller cleans the dir. Set that conf on any
    // long-running driver that loops over corpora.
    val rerooted =
      if (spark.sparkContext.getCheckpointDir.isDefined) result.checkpoint(true)
      else result.localCheckpoint(true)
    releaseEdges(edges)
    rerooted
  }

  /** One row per corpus doc: `(…df columns…, component)` where component
    * is the doc's duplicate-cluster id (its own id when it has no
    * near-dups). `pairs` is any candidate-pair frame — [[minHashLshPairs]]
    * at scale, [[ngramJaccardPairs]] for exact small-corpus runs. */
  def componentIds(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comp = connectedComponents(pairs)
    df.join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol).cast("long")))
  }

  /** Fuzzy dedup, done right: keep exactly the canonical (minimum-id) doc
    * of every near-dup component. */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    componentIds(df, idCol, pairs)
      .where(col(idCol).cast("long") === col("component"))
      .drop("component")

  /** Cross-group near-dup overlap report — the curation question "how
    * much of source B is already in source A": for every unordered group
    * pair (including a group with itself), the count of near-dup pairs
    * whose two documents carry those groups, plus how many distinct docs
    * on each side are involved. `pairs` is any near-dup pair frame; the
    * two joins are broadcast-or-shuffle equi-joins on the id, and the
    * final aggregate is group-pair-cardinality-sized — nothing here is
    * all-pairs beyond what `pairs` already bounded. */
  def crossGroupOverlap(df: DataFrame, idCol: String, groupCol: String,
      pairs: DataFrame): DataFrame = {
    val ga = df.select(col(idCol).as("id_a"), col(groupCol).as("_ga"))
    val gb = df.select(col(idCol).as("id_b"), col(groupCol).as("_gb"))
    pairs.join(ga, "id_a").join(gb, "id_b")
      .select(
        least(col("_ga"), col("_gb")).as("group_a"),
        greatest(col("_ga"), col("_gb")).as("group_b"),
        // docs_a counts docs carrying the LESSER group name of the pair
        when(col("_ga") <= col("_gb"), col("id_a")).otherwise(col("id_b"))
          .as("_da"),
        when(col("_ga") <= col("_gb"), col("id_b")).otherwise(col("id_a"))
          .as("_db"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("pair_count"),
        countDistinct(col("_da")).as("docs_a"),
        countDistinct(col("_db")).as("docs_b"))
  }

  /** The full fuzzy-dedup pipeline in one call — the production shape:
    *  1. EXACT dedup on the text hash first (xxhash64 of the full text —
    *     exact modulo 64-bit collisions, like [[decontaminate]]):
    *     byte-identical copies collapse in one cheap shuffle, so giant
    *     true-dup clusters never reach LSH as b²-candidate buckets;
    *  2. MinHash-LSH candidate pairs over the survivors;
    *  3. connected components over the candidate graph, then drop every
    *     clustered doc that is not its cluster's minimum-id root.
    * `maxBucketSize` forwards LSH's opt-in skew cap (0 = exact recall).
    *
    * Cost shape (default, `persistIntermediate = false`): the exact-dedup
    * aggregation executes once for the LSH pass and once more when the
    * returned frame is consumed (the result stays lazy and leak-free, so
    * nothing is pinned across the API boundary); the drop side of the
    * final anti join is only the clustered NON-roots — duplicate docs,
    * not the corpus. Callers consuming the result repeatedly should
    * persist it themselves.
    *
    * `persistIntermediate = true` checkpoints the exact-dedup survivors
    * ONCE (reliable checkpoint when a dir is configured — any real
    * cluster run — else an eager localCheckpoint), feeds both consumers
    * from that frame, then re-roots the final result the same way and
    * RELEASES the intermediate before returning: the second exact-dedup
    * scan of the corpus disappears, and with a checkpoint dir set the
    * returned frame pins zero executor-storage blocks. */
  def fuzzyDedup(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
      threshold: Double = 0.6, maxBucketSize: Int = 0,
      persistIntermediate: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.sparkContext.getCheckpointDir.isDefined
    def reroot(frame: DataFrame): DataFrame =
      if (reliable) frame.checkpoint(true) else frame.localCheckpoint(true)
    val unique0 = exactDedup(df, idCol, xxhash64(col(textCol)))
    val unique = if (persistIntermediate) reroot(unique0) else unique0
    def uniq = if (persistIntermediate) unique
      else exactDedup(df, idCol, xxhash64(col(textCol)))
    val comp = connectedComponents(
      minHashLshPairs(uniq, idCol, textCol, n, bands, rowsPerBand,
        threshold, maxBucketSize))
    // comp covers only docs that appear in candidate pairs; docs outside
    // any cluster are kept as-is, so the cheap form is an anti join
    // against the clustered non-roots
    val dropIds = comp.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    val result = uniq.join(dropIds, Seq(idCol), "left_anti")
    if (!persistIntermediate) result
    else {
      // the result must stop referencing the intermediate's storage blocks
      // before they can be dropped — same re-root-then-release discipline
      // as connectedComponents' loop frames
      val rerooted = reroot(result)
      if (reliable) unique.unpersist(blocking = true)
      else ColumnBridge.unpersistCheckpoint(unique)
      rerooted
    }
  }
}
