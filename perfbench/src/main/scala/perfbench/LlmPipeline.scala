package perfbench

import scala.collection.mutable

import graft.llm.{Bm25Index, Bpe, Dedup, IvfIndex, TextOps}
import graft.meta.{PartitionSpec, Schema}
import graft.table.IceTable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** LLM data preparation over a corpus stored in graft tables: HTML text
  * extraction, BPE token counts, MinHash-LSH near-duplicate pairs and
  * connected-component dedup, duplicated-span removal, a BM25 index and an
  * IVF vector index. The table layers do little here, so this is the
  * control for table-layer changes. */
object LlmPipeline extends Workload {
  val name = "llm_pipeline"
  val primary = "pipeline"
  val Unique = 240
  val DupGroups = 30
  val Vectors = 600
  val Dim = 16
  val Clusters = 6
  val Footer = "standard footer notice appears here for every syndicated page reprint"

  /** Seeded corpus: unique documents over a random vocabulary (so no two
    * share a word trigram by chance), a footer span on a third of them, and
    * exact copies of `DupGroups` documents with ids above every original. */
  final case class Corpus(text: Map[Long, String], copies: Map[Long, Long],
      marker: Map[Long, String])

  def corpus(seed: Long): Corpus = {
    val r = new java.util.Random(seed * 7919L + 3)
    def word(): String = (1 to 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    val vocab = Array.fill(3000)(word())
    def mark(i: Int): String = "qmark" + Integer.toString(i, 26).map(c =>
      if (c.isDigit) ('a' + (c - '0')).toChar else ('k' + (c - 'a')).toChar)
    val text = mutable.LinkedHashMap[Long, String]()
    val marker = mutable.Map[Long, String]()
    (0 until Unique).foreach { i =>
      // the marker sits inside the body: the tokenizer splits on spaces
      // only, so a first word would stay glued to the extracted heading
      val body = Seq.fill(40 + r.nextInt(40))(vocab(r.nextInt(vocab.length)))
      text(i.toLong) = (body.head +: mark(i) +: body.tail).mkString(" ") +
        (if (i % 3 == 0) " " + Footer else "")
      marker(i.toLong) = mark(i)
    }
    val copies = mutable.Map[Long, Long]()
    var next = Unique.toLong
    (0 until DupGroups).foreach { _ =>
      val orig = r.nextInt(Unique).toLong
      (1 to 1 + r.nextInt(2)).foreach { _ =>
        text(next) = text(orig); copies(next) = orig; next += 1
      }
    }
    Corpus(text.toMap, copies.toMap, marker.toMap)
  }

  def html(text: String): String =
    "<html><head><title>page</title><script>var tracker = 'scriptonly';</script>" +
      s"</head><body><h1>heading</h1><p>$text</p></body></html>"

  def vectors(seed: Long): Seq[(Long, Array[Float])] = {
    val r = new java.util.Random(seed * 104729L + 11)
    val centers = Array.fill(Clusters)(Array.fill(Dim)(r.nextGaussian().toFloat * 4))
    (0 until Vectors).map { i =>
      val c = centers(i % Clusters)
      (i.toLong, Array.tabulate(Dim)(d => c(d) + r.nextGaussian().toFloat))
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Pass time estimated stage by stage (sum of per-stage medians), so one
    * slow stage in one of a run's few passes does not move it. */
  private var passEstimate = Double.NaN
  override def headline(ctx: Ctx): Option[Double] = Some(passEstimate)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val c = corpus(ctx.seed)
    val vecs = vectors(ctx.seed)
    val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("html", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val docRows = c.text.toSeq.sortBy(_._1).map { case (id, t) => Row(id, html(t)) }
    val vecRows = vecs.map { case (id, v) => Row(id, v.toSeq) }

    final class Tables(val docs: IceTable, val vecs: IceTable, val merges: Seq[(String, String)],
        val bm25: Bm25Index, val ivf: IvfIndex)
    var builds = 0
    def build(): Tables = {
      builds += 1
      val docs = ctx.create("documents", Schema.fresh(docSchema), PartitionSpec.unpartitioned)
      docs.append(spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docSchema))
      val vt = ctx.create("embeddings", Schema.fresh(vecSchema), PartitionSpec.unpartitioned)
      vt.append(spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), vecSchema))
      // the tokenizer and both indexes are built once per corpus, as set-up;
      // the lexical index covers the original documents
      val text = docs.toDF.select(col("doc_id"), TextOps.extractText(col("html")).as("text"))
      val merges = Bpe.collectMerges(Bpe.train(text, "text", numMerges = 25))
      val loc = s"${ctx.work}/indexes/build$builds"
      val bm25 = Bm25Index.build(spark, text.where(col("doc_id") < Unique), "doc_id", "text",
        s"$loc/bm25", nBuckets = 2)
      val ivf = IvfIndex.buildFrom(spark, vt, "vec_id", "embedding", s"$loc/ivf",
        nLists = 4, iters = 1)
      new Tables(docs, vt, merges, bm25, ivf)
    }
    val t = ctx.setup(build())
    ctx.userBytes = docRows.map(_.getString(1).length + 8L).sum + Vectors * (8L + 4L * Dim)
    val docsName = ctx.sqlName(t.docs)

    // expected results, computed from the generator
    val originals = c.text.keySet -- c.copies.keySet
    val expectedPairs: Set[(Long, Long)] = {
      val groups = c.text.keys.groupBy(id => c.copies.getOrElse(id, id)).values
      groups.flatMap { g =>
        val s = g.toSeq.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
    }
    val footerGram = Footer.split(' ').take(5).mkString(" ")
    val queries = ctx.shuffle(originals.toSeq.sorted).take(8)
    val queryIds = ctx.shuffle(vecs.map(_._1)).take(8).sorted
    val vecById = vecs.toMap
    val r = ctx.rnd
    var passNo = 0
    var tokenTotal = -1L

    /** Wall times of each stage in measured passes. */
    val stageMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def stage[T](n: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = ctx.tracer.span(s"llm.$n", "llm")(body)
      if (ctx.measuring)
        stageMs.getOrElseUpdate(n, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      r
    }

    /** One pipeline pass; returns a description of the first wrong output. */
    def pass(): Option[String] = {
      passNo += 1
      val errs = mutable.ArrayBuffer[String]()
      def expect(what: String, ok: Boolean, detail: => String): Unit =
        if (!ok) errs += s"$what: $detail"
      val extracted = stage("extract") {
        t.docs.toDF.select(col("doc_id"), TextOps.extractText(col("html")).as("text"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
      expect("extract", extracted.size == c.text.size &&
        extracted.forall { case (id, x) => x.contains(c.text(id)) && !x.contains("scriptonly") },
        s"${extracted.size} docs, text lost or script kept")
      val textDf = extracted.toSeq.toDF("doc_id", "text").cache()
      try {
        val tokens = stage("tokens") {
          textDf.select(Bpe.tokenCount(col("text"), t.merges).cast("long").as("n"),
            size(split(trim(col("text")), "\\s+")).as("w"), length(col("text")).as("ch"))
            .agg(sum("n"), sum(when(col("n") < col("w") || col("n") > col("ch"), 1).otherwise(0)))
            .collect()(0)
        }
        expect("tokens", tokens.getLong(1) == 0L && (tokenTotal < 0 || tokens.getLong(0) == tokenTotal),
          s"total ${tokens.getLong(0)} (first pass $tokenTotal), ${tokens.getLong(1)} out of bounds")
        if (tokenTotal < 0) tokenTotal = tokens.getLong(0)

        val (pairs, kept) = stage("dedup") {
          val p = Dedup.minHashLshPairs(textDf, "doc_id", "text").cache()
          try {
            val ps = p.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
              .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
            val k = Dedup.dedupByComponents(textDf, "doc_id", p).select("doc_id", "text")
              .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
            (ps, k)
          } finally p.unpersist()
        }
        expect("pairs", pairs == expectedPairs, s"${pairs.size} pairs, expected ${expectedPairs.size}")
        expect("dedup", kept.keySet == originals, s"kept ${kept.size}, expected ${originals.size}")

        val keptDf = kept.toSeq.toDF("doc_id", "text")
        val cleaned = stage("spans") {
          TextOps.removeDuplicatedSpans(keptDf, "doc_id", "text", n = 5).select("doc_id", "text")
            .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        }
        expect("spans", cleaned.size == kept.size && cleaned.forall { case (id, x) =>
          !x.contains(footerGram) && x.contains(c.marker.getOrElse(id, "?")) },
          "footer kept or document text lost")

        val top = stage("bm25") {
          t.bm25.query(queries.map(id => (id, c.marker(id))).toDF("qid", "qtext"), "qid", "qtext", 3)
            .where(col("rank") === 1).select("query_id", "doc_id").collect()
            .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
        }
        expect("bm25", top == queries.map(id => id -> id).toMap, s"top hits $top")

        val nn = stage("ivf") {
          t.ivf.topK(queryIds, k = 5, nProbe = 4).select("query_id", "neighbor_id").collect()
            .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
            .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
        }
        // every returned neighbour must be within rounding of the true top 5
        val ivfOk = queryIds.forall { q =>
          val exact = vecs.filter(_._1 != q).map { case (id, v) => id -> cosine(vecById(q), v) }
            .sortBy(-_._2)
          val floor = exact(4)._2 - 1e-3
          val got = nn.getOrElse(q, Set.empty)
          got.size == 5 && got.forall(id => cosine(vecById(q), vecById(id)) >= floor)
        }
        expect("ivf", ivfOk, s"neighbours $nn")
        ctx.tracer.note("llm.pairs", pairs.size)
        ctx.tracer.note("llm.docs_kept", kept.size)
      } finally textDf.unpersist()
      errs.headOption
    }

    /** The corpus tables as a user reads them: whole and by id range. */
    def readCorpus(): Unit = {
      val vecsName = ctx.sqlName(t.vecs)
      def docs(ids: Seq[Long]) =
        Data.Agg(ids.size, ids.sum, ids.map(id => html(c.text(id)).length.toLong).sum)
      def read(kind: String, sql: String, want: Data.Agg): Unit =
        ctx.op("scan", kind)(spark.sql(sql).collect()(0))(
          row => Data.check(kind, want, Data.agg(row)))
      val a = r.nextInt(c.text.size - 50).toLong
      val v = r.nextInt(Vectors).toLong
      read("corpus_read", s"SELECT count(*), sum(doc_id), sum(length(html)) FROM $docsName",
        docs(c.text.keys.toSeq))
      read("corpus_range_read", s"SELECT count(*), sum(doc_id), sum(length(html)) " +
        s"FROM $docsName WHERE doc_id BETWEEN $a AND ${a + 49}", docs(a to a + 49))
      read("vectors_read", s"SELECT count(*), sum(vec_id), sum(size(embedding)) FROM $vecsName",
        Data.Agg(Vectors, vecs.map(_._1).sum, Vectors.toLong * Dim))
      read("vector_point_read", s"SELECT count(*), sum(vec_id), sum(size(embedding)) " +
        s"FROM $vecsName WHERE vec_id = $v", Data.Agg(1, v, Dim))
    }

    // two warm-up passes, checked but not timed: a first pass costs about
    // twice a warm one and the second still ~15% more, and a run holds
    // only two or three
    (1 to 2).foreach { _ =>
      readCorpus()
      ctx.op("pipeline", "pipeline_pass")(pass())(identity)
    }
    ctx.loop { _ =>
      readCorpus()
      ctx.op("pipeline", "pipeline_pass")(pass())(identity)
      ctx.cycleEnd()
    }
    ctx.recordHeap()
    passEstimate = stageMs.values.map(s => Stats.median(s.toSeq)).sum
  }
}
