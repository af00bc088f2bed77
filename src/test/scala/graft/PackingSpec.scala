package graft

import org.apache.spark.sql.functions._

import graft.ext.Packing
import graft.store.Tables

class PackingSpec extends SparkTestBase {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("chunk: geometry hand-checked (window 4, stride 3)") {
    val doc = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val r = Packing.chunk(doc, "id", "text", window = 4, stride = 3)
      .orderBy("chunk_id").collect()
    assert(r.length == 3)
    assert(r.map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(r.map(_.getAs[Int]("chunk_tokens")).toSeq == Seq(4, 4, 4))
    // 11 tokens -> a short tail chunk
    val doc11 = Seq((1L, (1 to 11).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val r11 = Packing.chunk(doc11, "id", "text", 4, 3).orderBy("chunk_id").collect()
    assert(r11.length == 4 && r11.last.getAs[Int]("chunk_tokens") == 2)
    // short doc -> exactly one chunk
    val short = Seq((1L, "a b")).toDF("id", "text")
    assert(Packing.chunk(short, "id", "text", 4, 3).count() == 1)
  }

  test("chunk: every token covered, consecutive chunks overlap by window-stride") {
    val docs = Tables.documents(spark, dir)
    val chunks = Packing.chunk(docs, "doc_id", "text", 32, 24)
    val tokTotals = docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).as("n"))
    // last chunk of each doc must end exactly at the doc's token count
    val lastEnd = chunks.groupBy("doc_id")
      .agg(max(col("chunk_id") * 24 + col("chunk_tokens")).as("covered"))
    val bad = lastEnd.join(tokTotals, "doc_id").filter(col("covered") =!= col("n"))
    assert(bad.isEmpty, s"uncovered tail in ${bad.count()} docs")
    // chunk plan is a pure explode — no shuffle
    val plan = chunks.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("chunkBySentences: greedy grouping hand-checked, oversized sentence isolated, conservation") {
    val df = Seq(
      (1L, "One two three. Four five six seven! Eight nine? Ten."),
      (2L, "A run of exactly eleven words that cannot fit one chunk alone here. Tail."),
      (3L, "   "),
      (4L, "Short.")).toDF("id", "text")
    val out = Packing.chunkBySentences(df, "id", Packing.sentences(col("text")),
        maxTokens = 7)
      .orderBy("id", "chunk_id")
      .select("id", "chunk_id", "chunk_text", "chunk_tokens", "n_sentences")
      .as[(Long, Int, String, Int, Int)].collect().toSeq
    assert(out == Seq(
      // 3 + 4 = 7 fits; "Eight nine?"(2) + "Ten."(1) = 3
      (1L, 0, "One two three. Four five six seven!", 7, 2),
      (1L, 1, "Eight nine? Ten.", 3, 2),
      // 13-token sentence alone in its own chunk, then the tail
      (2L, 0, "A run of exactly eleven words that cannot fit one chunk alone here.", 13, 1),
      (2L, 1, "Tail.", 1, 1),
      (4L, 0, "Short.", 1, 1)))
    // conservation on the real corpus: chunk tokens sum == doc tokens
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        size(split(trim(col("text")), "\\s+")).as("n"))
    // word-soup has no punctuation: derive 8-token sentences like x24
    val sents = filter(transform(
      sequence(lit(0), ceil(col("n") / lit(8.0)).cast("int") - 1),
      i => array_join(slice(split(trim(col("text")), "\\s+"), i * 8 + 1, lit(8)), " ")),
      s => s =!= "")
    val chunks = Packing.chunkBySentences(docs, "doc_id", sents, maxTokens = 30)
    val bad = chunks.groupBy("doc_id").agg(sum("chunk_tokens").as("ct"))
      .join(docs.select(col("doc_id"), col("n")), "doc_id")
      .filter(col("ct") =!= col("n")).count()
    assert(bad == 0)
    // budget respected except single-oversize chunks (8 ≤ 30 so never)
    assert(chunks.filter(col("chunk_tokens") > 30).count() == 0)
  }

  test("packContiguous: adjacency, exact cuts, conservation") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("ntok"))
    val packed = Packing.packContiguous(docs, "ntok", 128L, Seq(col("doc_id")))
      .orderBy("doc_id").collect()
    // adjacency: each doc starts where the previous ended
    packed.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("tok_start") == a.getAs[Long]("tok_start") + a.getAs[Int]("ntok"))
      case _ =>
    }
    // placement arithmetic
    packed.foreach { r =>
      val (start, n) = (r.getAs[Long]("tok_start"), r.getAs[Int]("ntok").toLong)
      assert(r.getAs[Long]("seq_first") == start / 128)
      assert(r.getAs[Long]("seq_last") == (start + n - 1) / 128)
      assert(r.getAs[Long]("offset") == start % 128)
      assert(r.getAs[Long]("offset") < 128)
    }
    // total sequences = ceil(total tokens / budget)
    val total = packed.map(_.getAs[Int]("ntok").toLong).sum
    val maxSeq = packed.map(_.getAs[Long]("seq_last")).max
    assert(maxSeq == (total - 1) / 128)
  }

  test("packContiguous sharded: per-shard windows, no global sort") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("ntok"),
        (col("doc_id") % 4).as("shard"))
    val packed = Packing.packContiguous(docs, "ntok", 128L,
      Seq(col("doc_id")), partitionCols = Seq(col("shard")))
    // per-shard the same invariants hold
    val bad = packed.filter(col("offset") >= 128 || col("seq_first") > col("seq_last"))
    assert(bad.isEmpty)
    assert(packed.count() == docs.count())
  }

  test("packContiguous valve: a corpus-scale call WITHOUT partitionCols fails loudly past maxGlobalRows; the sharded path is unguarded") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("ntok"))
    // tiny valve to model "corpus-scale" at fixture size: the global-
    // window default must refuse, naming the sharded path
    val e = intercept[Exception] {
      Packing.packContiguous(docs, "ntok", 128L, Seq(col("doc_id")),
        maxGlobalRows = 10L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("partitionCols")), messages(e))
    // same rows THROUGH the sharded path: no valve (explicit scale
    // decision), identical per-shard invariants
    val sharded = Packing.packContiguous(
      docs.withColumn("shard", col("doc_id") % 4), "ntok", 128L,
      Seq(col("doc_id")), partitionCols = Seq(col("shard")),
      maxGlobalRows = 10L)
    assert(sharded.count() == docs.count())
    // and a global call UNDER the valve is untouched (existing gates)
    assert(Packing.packContiguous(docs.limit(5), "ntok", 128L,
      Seq(col("doc_id")), maxGlobalRows = 10L).count() == 5)
  }

  test("sequenceDocBoundaries: hand-checked attention-mask metadata — spill-in docs start at 0, every sequence accounted") {
    import spark.implicits._
    // docs A=3, B=3, C=2 tokens, budget 4, laid out in id order:
    //   seq 0 = [A A A B]   → A@0, B@3
    //   seq 1 = [B B C C]   → B@0 (spill-in), C@2
    val counts = Seq((1L, 3L), (2L, 3L), (3L, 2L)).toDF("doc_id", "ntok")
    val packing = Packing.packContiguous(counts, "ntok", 4L, Seq(col("doc_id")))
    val got = Packing.sequenceDocBoundaries(packing, "doc_id", 4L)
      .select("seq", "n_docs", "doc_ids", "boundaries")
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (0L, 2L, Seq(1L, 2L), Seq(0L, 3L)),
      (1L, 2L, Seq(2L, 3L), Seq(0L, 2L))), got)
    // consistency with the materialized sequences: every sequence of
    // packTokenIds has a boundary row, boundary count == doc count,
    // and offsets stay inside the sequence
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"),
        posexplode(filter(split(coalesce(col("text"), lit("")), "\\s+"),
          w => w =!= "")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos"), lit(0).as("subpos"),
        length(col("w")).cast("int").as("token_id"))
    val cnt = toks.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
    val pk = Packing.packContiguous(cnt, "ntok", 64L, Seq(col("doc_id")))
    val seqs = Packing.packTokenIds(toks, "doc_id", pk, 64L)
    val bounds = Packing.sequenceDocBoundaries(pk, "doc_id", 64L)
    assert(seqs.count() == bounds.count())
    assert(bounds.filter(size(col("doc_ids")) =!= col("n_docs")).isEmpty)
    assert(bounds.filter(
      exists(col("boundaries"), b => b < 0 || b >= 64)).isEmpty)
    // first boundary of every sequence is offset 0 (a doc starts or
    // spills in at the sequence head by construction)
    assert(bounds.filter(col("boundaries").getItem(0) =!= 0L).isEmpty)
  }

  test("packFirstFitDecreasing: conservation, budget respected, FFD quality, deterministic") {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("ntok"))
    val packed = Packing.packFirstFitDecreasing(docs, "doc_id", "ntok",
      budget = 200, buckets = 4).collect()
    // every doc exactly once
    assert(packed.map(_.id).sorted.toSeq ==
      docs.select("doc_id").as[Long].collect().sorted.toSeq)
    val byBin = packed.groupBy(p => (p.bucket, p.bin))
    // no bin over budget unless it is a single oversize doc
    byBin.foreach { case ((bkt, bin), ds) =>
      val fill = ds.map(_.n_tokens).sum
      assert(fill <= 200 || ds.length == 1,
        s"bin ($bkt,$bin) overfilled: $fill with ${ds.length} docs")
    }
    // FFD quality: per bucket at most one open bin is <= half full
    packed.groupBy(_.bucket).foreach { case (bkt, ds) =>
      val halfEmpty = ds.groupBy(_.bin).values
        .map(_.map(_.n_tokens).sum).count(_ <= 100)
      assert(halfEmpty <= 1, s"bucket $bkt has $halfEmpty half-empty bins")
    }
    // deterministic across runs
    val again = Packing.packFirstFitDecreasing(docs, "doc_id", "ntok", 200, 4).collect()
    assert(packed.map(p => (p.bucket, p.bin, p.id)).sortBy(_._3).toSeq ==
      again.map(p => (p.bucket, p.bin, p.id)).sortBy(_._3).toSeq)
  }

  test("packTokenIds: materialized sequences are exactly budget-length and conserve the token stream in layout order") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
      .limit(40)
    val vocab = graft.ext.Bpe.byteWordFreqs(docs, "text").cache()
    val merges = graft.ext.Bpe.learnByteMergesFromVocabBatched(vocab, 12).merges
    val toks = graft.ext.Bpe.tokenizeBytesToIds(docs, "doc_id", "text", merges)
      .cache()
    val counts = toks.groupBy("doc_id").agg(count(lit(1)).as("ntok"))
    val budget = 128L
    val packing = Packing.packContiguous(counts, "ntok", budget, Seq(col("doc_id")))
    val seqs = Packing.packTokenIds(toks, "doc_id", packing, budget)
      .orderBy("seq").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1)))
    // every sequence full except the last; ids contiguous from 0
    assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong))
    assert(seqs.init.forall(_._2.length == budget), seqs.map(_._2.length).toSeq)
    assert(seqs.last._2.length <= budget && seqs.last._2.nonEmpty)
    // CONSERVATION: the flattened sequences equal the token stream in
    // doc-layout order (docs by doc_id, tokens by (pos, subpos))
    val flat = seqs.flatMap(_._2).toSeq
    val stream = toks.orderBy("doc_id", "pos", "subpos")
      .select("token_id").as[Int].collect().toSeq
    assert(flat == stream)
  }
}
