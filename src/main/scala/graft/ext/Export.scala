package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-shard export — the pipeline's last mile: the curated,
  * tokenized corpus leaves as size-bounded shards plus a MANIFEST the
  * training side trusts (WebDataset/streaming-loader convention: the
  * loader reads the manifest, not the directory listing).
  *
  * Shard assignment is [[Packing.packContiguous]]'s cumulative-sum
  * machinery specialized to whole documents: docs are laid out in a
  * deterministic order (seeded-hash shuffle — the [[Sampling]] global
  * shuffle — or a caller-given sort) and cut every `tokensPerShard`
  * tokens, so shard contents are a pure function of (corpus, seed,
  * budget): re-running the export reproduces byte-identical shards.
  *
  * Scale shape: ONE window cumsum over (ntok) — per deterministic
  * hash GROUP when `groups > 1` (the 100-TB posture: no global-ordered
  * window exists at corpus scale) — then a partitioned parquet write (`shard=NNN` directories,
  * one task per shard via repartition on the shard id) and a
  * manifest aggregation (shard-count rows: docs, tokens, and an
  * order-invariant content checksum = sum of per-doc xxhash64, exact
  * DECIMAL so the manifest is engine/partition-independent). */
object Export {

  /** Assign each doc a shard id by deterministic contiguous layout:
    * (idCol, ntokCol, shard). A doc lands WHOLE in the shard where its
    * first token falls (no document straddles a shard boundary in the
    * manifest's accounting; a shard may therefore exceed the budget by
    * less than one document).
    *
    * `groups` is the 100-TB path: with `groups > 1` the layout runs
    * INDEPENDENTLY inside `groups` deterministic hash groups (the
    * packContiguous `partitionCols` move — no global-ordered window
    * exists at corpus scale); global shard ids stay contiguous and
    * collision-free via per-group offsets (shard = groupOffset +
    * localShard, offsets from one groups-sized aggregation).
    * `groups = 1` (default) keeps the exact single-sequence layout. */
  def assignShards(df: DataFrame, idCol: String, ntokCol: String,
      tokensPerShard: Long, seed: Long = 42L, groups: Int = 1): DataFrame = {
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    require(groups >= 1, "groups must be positive")
    val grp =
      if (groups == 1) lit(0L)
      else pmod(xxhash64(col(idCol), lit(seed + 1)), lit(groups.toLong))
    val w = Window.partitionBy(grp)
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
    val cum = sum(col(ntokCol)).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val local = df.withColumn("_grp", grp)
      .withColumn("_lshard", (coalesce(cum, lit(0L)) / tokensPerShard).cast("long"))
    if (groups == 1) local.withColumn("shard", col("_lshard")).drop("_grp", "_lshard")
    else {
      // groups-sized frame: contiguous global offsets in group order
      val wg = Window.orderBy("_grp")
      val offsets = local.groupBy("_grp")
        .agg((max(col("_lshard")) + 1).as("_n"))
        .select(col("_grp"),
          coalesce(sum(col("_n")).over(
            wg.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)).as("_off"))
      local.join(broadcast(offsets), "_grp")
        .withColumn("shard", col("_off") + col("_lshard"))
        .drop("_grp", "_lshard", "_off")
    }
  }

  /** Can xxhash64 hash this type? (Hash expressions reject MapType —
    * map iteration order is undefined — at any nesting depth.) */
  private def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => false
    case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
    case _ => true
  }

  /** The columns the manifest checksum covers: the caller's choice, or
    * every HASHABLE column except the shard id in sorted-name order (so
    * the term is schema-order-independent, and a frame carrying a map
    * column still exports instead of failing analysis). Covering
    * content by default means a shard whose TEXT was corrupted in
    * transit — same ids, same token counts — still fails the audit. */
  private def checksumColumns(df: DataFrame, checksumCols: Seq[String]): Seq[String] = {
    val cs =
      if (checksumCols.nonEmpty) checksumCols
      else df.schema.fields
        .filter(f => f.name != "shard" && hashable(f.dataType))
        .map(_.name).toSeq.sorted
    require(cs.nonEmpty, "no checksum columns")
    cs
  }

  /** Order-invariant exact checksum over the given columns: per-doc
    * xxhash64 summed as exact DECIMAL. */
  private def checksumTerm(cs: Seq[String]) =
    sum(xxhash64(cs.map(col): _*).cast(DecimalType(38, 0)))

  /** Write `shard=NNN`-partitioned parquet + `_manifest` (one row per
    * shard: n_docs, n_tokens, checksum). Returns the manifest.
    * `checksumCols` picks the columns the manifest checksum covers —
    * default: ALL of them (audit with the same choice). */
  def writeShards(df: DataFrame, idCol: String, ntokCol: String,
      outDir: String, tokensPerShard: Long, seed: Long = 42L,
      groups: Int = 1, checksumCols: Seq[String] = Nil): DataFrame = {
    // max(shard) rides the layout checkpoint as an observe() metric
    // (the pageRankLoop fusion) — the separate agg job per export was
    // pure driver overhead
    val obs = org.apache.spark.sql.Observation()
    val assigned = assignShards(df, idCol, ntokCol, tokensPerShard, seed, groups)
      .observe(obs, max(col("shard")).as("mx"))
      .localCheckpoint(true) // one layout pass feeds both writes
    try {
      // one output file per shard: repartition ON the shard id so the
      // write task holds exactly its shard (the bucketed-store "one
      // file per bucket" discipline). Empty input ⇒ empty shard dir +
      // empty (schema-complete) manifest, not an NPE on max(shard).
      val maxShard = obs.get.get("mx").flatMap(Option(_)).map(_.asInstanceOf[Long])
      val nShards = maxShard.fold(0)(_.toInt + 1)
      if (nShards > 0)
        assigned.repartition(nShards, col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(outDir)
      else assigned.write.mode("overwrite").partitionBy("shard").parquet(outDir)
      // the manifest RECORDS its checksum-column choice, so the audit
      // side re-derives with the same columns instead of trusting the
      // caller to repeat them (a mismatched choice reads as corruption)
      val cs = checksumColumns(assigned, checksumCols)
      // shard-count rows: repartition(1)+sort instead of orderBy — a
      // global orderBy plans a range exchange whose sampling pass is a
      // whole extra job per export (the SmallOrdered rationale)
      val manifest = assigned.groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(col(ntokCol)).as("n_tokens"),
          // order-invariant exact checksum: per-doc xxhash64 summed as
          // DECIMAL — any dropped/duplicated/altered doc (CONTENT
          // included, not just id/ntok) changes it
          checksumTerm(cs).as("checksum"))
        .withColumn("checksum_cols", lit(cs.mkString(",")))
        .repartition(1).sortWithinPartitions("shard")
      manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
      manifest
    } finally assigned.unpersist(): Unit
  }

  /** JSONL twin of [[writeShards]] — the interchange format most
    * training stacks consume directly (one JSON object per line,
    * gzip-compressed shard files): same deterministic shard layout
    * ([[assignShards]]), same manifest contract, and the CHECKSUMS are
    * computed over the COLUMN VALUES (not the serialized lines), so a
    * parquet export and a jsonl export of the same frame carry
    * identical manifests — a loader can audit either against the
    * other. Field order inside each JSON object is the frame's column
    * order (deterministic); shard files land as
    * `shard=NNN/part-*.txt.gz`, which `spark.read.json(outDir)` (or
    * any gzip-aware JSONL reader) consumes transparently. */
  def writeShardsJsonl(df: DataFrame, idCol: String, ntokCol: String,
      outDir: String, tokensPerShard: Long, seed: Long = 42L,
      groups: Int = 1, checksumCols: Seq[String] = Nil,
      compression: String = "gzip"): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val assigned = assignShards(df, idCol, ntokCol, tokensPerShard, seed, groups)
      .observe(obs, max(col("shard")).as("mx")) // see writeShards
      .localCheckpoint(true)
    try {
      val nShards = obs.get.get("mx").flatMap(Option(_))
        .map(_.asInstanceOf[Long]).fold(0)(_.toInt + 1)
      val dataCols = assigned.columns.filter(_ != "shard").toSeq
      val lines = assigned.select(col("shard"),
        to_json(struct(dataCols.map(col): _*)).as("value"))
      val laid =
        if (nShards > 0) lines.repartition(nShards, col("shard")) else lines
      laid.write.mode("overwrite").partitionBy("shard")
        .option("compression", compression).text(outDir)
      val cs = checksumColumns(assigned, checksumCols)
      val manifest = assigned.groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(col(ntokCol)).as("n_tokens"),
          checksumTerm(cs).as("checksum"))
        .withColumn("checksum_cols", lit(cs.mkString(",")))
        .repartition(1).sortWithinPartitions("shard") // see writeShards
      manifest.write.mode("overwrite").parquet(s"$outDir/_manifest")
      manifest
    } finally assigned.unpersist(): Unit
  }

  /** Re-derive the manifest from landed shards and compare — the
    * integrity check a loader (or a post-copy audit) runs: returns
    * rows that DISAGREE (empty = intact). The checksum columns come
    * from the manifest's own `checksum_cols` record (manifests written
    * before that field existed: pass the write's `checksumCols`
    * explicitly). An empty export (no data files) audits clean against
    * an empty manifest — and flags every manifest row as lost when the
    * manifest says shards should exist. */
  def auditShards(spark: SparkSession, outDir: String, idCol: String,
      ntokCol: String, checksumCols: Seq[String] = Nil): DataFrame = {
    val manifest = spark.read.parquet(s"$outDir/_manifest")
    val cs: Seq[String] =
      if (checksumCols.nonEmpty) checksumCols
      else if (manifest.columns.contains("checksum_cols"))
        manifest.select("checksum_cols").limit(1).collect()
          .headOption.map(_.getString(0).split(",").toSeq).getOrElse(Nil)
      else Nil
    val manifestCmp =
      if (manifest.columns.contains("checksum_cols")) manifest.drop("checksum_cols")
      else manifest
    // a zero-row export writes no parquet data files — detect via the
    // listing (only _manifest/_SUCCESS present) instead of letting the
    // schema-less read throw
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) &&
      fs.listStatus(p).exists(s => !s.getPath.getName.startsWith("_"))
    val landed =
      if (hasData) {
        val shards = spark.read.parquet(outDir)
        shards.groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(col(ntokCol)).as("n_tokens"),
          checksumTerm(checksumColumns(shards, cs)).as("checksum"))
      } else manifestCmp.limit(0)
    landed.as("l").join(manifestCmp.as("m"), "shard", "full_outer")
      .filter(col("l.n_docs").isNull || col("m.n_docs").isNull ||
        col("l.n_docs") =!= col("m.n_docs") ||
        col("l.n_tokens") =!= col("m.n_tokens") ||
        col("l.checksum") =!= col("m.checksum"))
  }

  /** Element width of a binary-shard token dtype. `int32` is the
    * universal default; `uint16` halves artifact bytes and trainer IO
    * for every vocab under 65536 ids (most 32k–50k production vocabs)
    * and is rejected LOUDLY at write time the moment any token id
    * falls outside [0, 65536). */
  private[ext] def dtypeWidth(dtype: String): Int = dtype match {
    case "int32"  => 4
    case "uint16" => 2
    case other => throw new IllegalArgumentException(
      s"unsupported token dtype '$other' (supported: int32, uint16)")
  }

  /** Megatron-LM dtype codes (public `indexed_dataset.py` numpy map). */
  private def megatronCode(dtype: String): Byte = dtype match {
    case "int32" => 4
    case "uint16" => 8
  }
  private def dtypeOfCode(code: Byte): String = code match {
    case 4 => "int32"
    case 8 => "uint16"
    case other => throw new IllegalArgumentException(
      s"unsupported Megatron dtype code $other (supported: 4 = int32, 8 = uint16)")
  }

  /** The element dtype a [[writeTokenBin]]/[[writeSequenceBin]] export
    * landed, read from its `_manifest` (`int32` for manifests written
    * before the column existed, and for a bare index-plus-bins layout
    * with no manifest at all — the historical format). */
  def binDtype(spark: SparkSession, outDir: String): String =
    try {
      val m = spark.read.parquet(s"$outDir/_manifest")
      if (!m.columns.contains("dtype")) "int32"
      else m.select("dtype").limit(1).collect().headOption
        .map(_.getString(0)).getOrElse("int32")
    } catch { case _: org.apache.spark.sql.AnalysisException => "int32" }

  /** Roll-on-shard-change binary shard writer — the per-partition
    * engine shared by [[writeTokenBin]]/[[writeSequenceBin]] and their
    * append paths ([[appendTokenBin]]/[[appendSequenceBin]]): rows
    * arrive (shard, layout-key)-sorted, each shard's tokens stream
    * into `shard-NNNNN.bin` (tmp file + [[AtomicSink]] commit — file
    * names bind to the SHARD id, never the task, so a hash partition
    * holding several shards rolls files on shard change), and the
    * per-shard `(shard, n_docs, n_tokens, n_bytes, sha1)` manifest
    * rows come back from [[results]].
    *
    * `tailSeed` is the append path's one touched EXISTING shard: on
    * opening it, the landed bin's bytes stream through the digest
    * FIRST (new file = old content + appended tokens, sha1 covering
    * both) and the doc/token counters start at the stored totals — the
    * only stored-side IO an append pays, bounded by one shard.
    *
    * Instantiate INSIDE the task (holds open streams) and call
    * [[install]] with the live TaskContext so a failed attempt aborts
    * its temp files instead of committing partial bytes. */
  private final class ShardBinWriter(outDir: String,
      conf: org.apache.spark.util.SerializableConfiguration, width: Int,
      tailSeed: Map[Long, (Long, Long)]) {
    private val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, String)]
    private var cur = -1L
    private var stream: java.io.OutputStream = null
    private var digest: java.security.MessageDigest = null
    private var nTok = 0L
    private var nDocs = 0L
    private var lastDoc = Long.MinValue
    private var fs: org.apache.hadoop.fs.FileSystem = null
    private var tmp: org.apache.hadoop.fs.Path = null
    private var dest: org.apache.hadoop.fs.Path = null
    private var attemptId = 0L
    @volatile private var failed = false
    private val buf = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)

    def install(ctx: org.apache.spark.TaskContext): this.type = {
      attemptId = ctx.taskAttemptId()
      ctx.addTaskFailureListener((_, _) => { failed = true })
      ctx.addTaskCompletionListener[Unit] { _ =>
        if (failed) {
          if (stream != null) stream.close()
          if (fs != null) AtomicSink.abort(fs, tmp)
        } else close()
      }
      this
    }

    private def close(): Unit = if (stream != null) {
      stream.close()
      AtomicSink.commit(fs, tmp, dest)
      out += ((cur, nDocs, nTok, nTok * width,
        digest.digest().map("%02x".format(_)).mkString))
      stream = null
    }

    private def open(shard: Long): Unit = {
      close()
      cur = shard; nTok = 0L; nDocs = 0L; lastDoc = Long.MinValue
      dest = new org.apache.hadoop.fs.Path(outDir, f"shard-$shard%05d.bin")
      fs = dest.getFileSystem(conf.value)
      tmp = AtomicSink.tempFor(dest, attemptId)
      digest = java.security.MessageDigest.getInstance("SHA-1")
      stream = new java.io.BufferedOutputStream(
        new java.security.DigestOutputStream(fs.create(tmp, true), digest),
        1 << 16)
      tailSeed.get(shard).foreach { case (docs, toks) =>
        // append path: stream the landed bytes through the digest so
        // the committed file (and its manifest sha1) covers old +
        // appended content. Copy EXACTLY the manifest-recorded length,
        // never to EOF: if a prior attempt (a retry after commit, a
        // speculative twin) already republished the tail, reading to
        // EOF would re-append the new tokens on top of themselves —
        // bounding the copy at the stored byte count makes the rewrite
        // idempotent no matter what is sitting at dest
        var remaining = toks * width
        val src = fs.open(dest)
        try {
          val cbuf = new Array[Byte](1 << 16)
          while (remaining > 0) {
            val r = src.read(cbuf, 0, math.min(cbuf.length.toLong, remaining).toInt)
            require(r > 0, s"tail shard $shard: landed bin shorter than " +
              s"the manifest's ${toks * width} bytes")
            stream.write(cbuf, 0, r); remaining -= r
          }
        } finally src.close()
        nDocs = docs; nTok = toks
      }
    }

    private def put(tok: Int): Unit = {
      buf.clear()
      if (width == 4) buf.putInt(tok)
      else {
        require(tok >= 0 && tok < 65536,
          s"token id $tok unrepresentable as uint16 — ids must be in " +
            "[0, 65536) for dtype=uint16; export with dtype=int32")
        buf.putShort(tok.toShort)
      }
      stream.write(buf.array(), 0, width)
    }

    /** One token of `doc` — doc tokens must arrive contiguously
      * (shard, layout, id)-sorted, so doc CHANGES count docs in O(1)
      * memory per shard. */
    def token(shard: Long, tok: Int, doc: Long): Unit = {
      if (shard != cur || stream == null) open(shard)
      put(tok); nTok += 1
      if (doc != lastDoc) { nDocs += 1; lastDoc = doc }
    }

    /** One whole packed sequence (counts as one "doc" in the manifest —
      * a packed sequence IS the training sample). */
    def sequence(shard: Long, ids: Seq[Int]): Unit = {
      if (shard != cur || stream == null) open(shard)
      ids.foreach(put); nTok += ids.length; nDocs += 1
    }

    def results(): Iterator[(Long, Long, Long, Long, String)] = {
      close(); out.iterator
    }
  }

  /** BINARY indexed token shards — the mmap-ready artifact GPT-style
    * training loaders consume (the Megatron-LM `.bin`/`.idx`
    * convention, engine-side): per shard ONE `shard-NNNNN.bin` of raw
    * LITTLE-ENDIAN token ids (`dtype`: int32 default, uint16 for
    * ≤65k vocabs — half the artifact bytes), documents contiguous in
    * the deterministic [[assignShards]] layout order, plus
    *
    *   - `idx/` (parquet): one row per document —
    *     `(shard, <idCol>, offset, n_tokens)`, offset in TOKENS into
    *     the shard's bin, so a trainer mmaps the bin and slices, and a
    *     single-doc fetch is one positioned read of 4·n bytes
    *     ([[readTokenBin]]);
    *   - `_manifest` (parquet): per shard `(shard, n_docs, n_tokens,
    *     n_bytes, sha1)` — the sha1 computed WHILE writing, so
    *     [[auditTokenBin]] catches a lost, truncated, or bit-flipped
    *     shard from the landed bytes alone.
    *
    * `tokens` is the `(idCol, pos, subpos, token_id)` shape
    * ([[Bpe.tokenizeBytesToIds]]). Layout is a pure function of
    * (corpus, seed, budget) — re-running reproduces byte-identical
    * bins (content-ordered writer, AtomicSink commit). Scale shape:
    * one count agg, one shard-bounded offset window (never
    * corpus-global), one doc-keyed join, one write pass with at most
    * `nShards` roll-on-shard-change writers; `groups` shards the
    * layout itself (the [[assignShards]] 100-TB path). */
  def writeTokenBin(tokens: DataFrame, idCol: String, outDir: String,
      tokensPerShard: Long, seed: Long = 42L, groups: Int = 1,
      dtype: String = "int32", docCounts: DataFrame = null): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val width = dtypeWidth(dtype)
    // layout needs per-doc token counts; deriving them from `tokens`
    // scans the token stream TWICE (once here, once in the bin write) —
    // and when `tokens` is an unmaterialized tokenize pipeline each
    // scan re-runs the whole tokenizer. `docCounts` (idCol, ntok) lets
    // the caller supply the counts from a cheaper source — e.g.
    // [[Bpe.tokenCountsBytes]]'s column kernel, pinned equal to the
    // token stream's per-doc count by BpeSpec — so the token stream
    // is scanned exactly once. Must equal tokens.groupBy(id).count.
    val counts = Option(docCounts).getOrElse(
      tokens.groupBy(col(idCol)).agg(count(lit(1)).as("ntok")))
    val assigned = assignShards(counts, idCol, "ntok", tokensPerShard,
      seed, groups)
    // per-doc offset INTO its shard: same layout order as assignShards
    // (xxhash64(id, seed), id), window bounded by one shard's docs
    val layoutKey = xxhash64(col(idCol), lit(seed))
    val wOff = Window.partitionBy(col("shard")).orderBy(layoutKey, col(idCol))
    // max(shard) rides the layout checkpoint as an observe() metric —
    // the separate agg job per export was pure driver overhead
    val idxObs = org.apache.spark.sql.Observation()
    val index = assigned.withColumn("offset",
        coalesce(sum(col("ntok")).over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col(idCol), col("offset"),
        col("ntok").as("n_tokens"))
      .observe(idxObs, max(col("shard")).as("mx"))
      .localCheckpoint(true) // one layout feeds idx, writer, manifest
    try {
      val maxShard = idxObs.get.get("mx").flatMap(Option(_)).map(_.asInstanceOf[Long])
      require(maxShard.forall(_ < Int.MaxValue - 1),
        s"shard count ${maxShard.map(_ + 1).getOrElse(0L)} exceeds Int range — " +
          "raise tokensPerShard (a bin file should be GBs, not KBs)")
      val nShards = maxShard.fold(0)(_.toInt + 1)
      // idx/ is one row per DOCUMENT — corpus-sized, never funnel it
      // through one task (the r18 scale wart: a repartition(1) here put
      // billions of rows through a single parquet writer while the bin
      // writer next to it sharded correctly). Same layout as the bins:
      // one directory per shard, shard-pruned on read. A ZERO-row
      // corpus writes one plain (schema-carrying) empty file instead —
      // partitionBy over nothing would land no data file at all and
      // every downstream idx read would die on schema inference.
      if (nShards > 0)
        index.repartition(nShards, col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/idx")
      else index.write.mode("overwrite").parquet(s"$outDir/idx")
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val manifest =
        if (nShards == 0)
          Seq.empty[(Long, Long, Long, Long, String)]
            .toDF("shard", "n_docs", "n_tokens", "n_bytes", "sha1")
        else tokens
          .join(index.select(col("shard"), col(idCol), lit(1L).as("__d")),
            Seq(idCol))
          .withColumn("__k", layoutKey)
          .repartition(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col("__k"), col(idCol),
            col("pos"), col("subpos"))
          .select(col("shard"), col("token_id").cast("int"),
            col(idCol).cast("long"))
          .as[(Long, Int, Long)]
          .mapPartitions { it =>
            val w = new ShardBinWriter(outDir, conf, width, Map.empty)
              .install(org.apache.spark.TaskContext.get())
            it.foreach { case (shard, tok, doc) => w.token(shard, tok, doc) }
            w.results()
          }
          .toDF("shard", "n_docs", "n_tokens", "n_bytes", "sha1")
      // checkpoint BEFORE the sort: a global sort's range-exchange
      // sampling pass re-executes the child, and the child here is the
      // side-effecting bin writer — unchecked, every export wrote its
      // bytes twice (benign for overwrite, 2× the IO at scale). The
      // sort itself is the one-partition form: shard-count rows, and a
      // range exchange would be an extra sampling job per export.
      val ck = manifest.withColumn("dtype", lit(dtype)).localCheckpoint(true)
      // `docCounts` is a trust-the-caller contract; verify it INSIDE
      // the manifest write job (no extra action): the writer's landed
      // per-shard (docs, tokens) must equal the index's claims — both
      // shard-count-sized — or idx offsets silently disagree with the
      // laid bytes and every positioned read is corrupt. Fails loudly
      // on any landed shard whose counts drift.
      val claims = index.groupBy(col("shard")).agg(
        sum(col("n_tokens")).as("__ctok"), count(lit(1)).as("__cdoc"))
      val guarded = ck.join(claims, Seq("shard"), "left")
        .withColumn("sha1", when(
            col("__ctok").isNull || col("__ctok") =!= col("n_tokens") ||
              col("__cdoc") =!= col("n_docs"),
            raise_error(concat(
              lit("writeTokenBin: shard "), col("shard").cast("string"),
              lit(" landed (docs,tokens)=("), col("n_docs").cast("string"),
              lit(","), col("n_tokens").cast("string"),
              lit(") but the index claims ("),
              coalesce(col("__cdoc").cast("string"), lit("none")), lit(","),
              coalesce(col("__ctok").cast("string"), lit("none")),
              lit(") — docCounts disagrees with the token stream"))))
          .otherwise(col("sha1")))
        .drop("__ctok", "__cdoc")
        .repartition(1).sortWithinPartitions("shard")
      guarded.write.mode("overwrite").parquet(s"$outDir/_manifest")
      // the returned frame must not reference `index` (unpersisted in
      // the finally below — a localCheckpoint cannot recompute); the
      // guard already ran inside the write
      ck.repartition(1).sortWithinPartitions("shard")
    } finally index.unpersist(): Unit
  }

  /** BINARY shards of PACKED TRAINING SEQUENCES — the tensor the
    * loader actually mmaps: [[Packing.packTokenIds]]'s fixed-budget
    * sequences laid out CONTIGUOUSLY IN SEQUENCE ORDER (packed data is
    * order-defined — the seeded-hash layout [[writeTokenBin]] uses for
    * documents would scramble the packing), `seqsPerShard` per
    * `shard-NNNNN.bin`, raw little-endian int32. Same artifact triple
    * as [[writeTokenBin]]: `idx/` parquet `(shard, seq, offset,
    * n_tokens)` — [[readTokenBin]] fetches a single sequence as one
    * positioned read, [[exportMegatronIdx]] writes the binary `.idx`
    * next to each bin (identity doc_idx: each packed sequence is one
    * training sample; per-sequence DOCUMENT boundaries for
    * block-diagonal attention live in [[Packing
    * .sequenceDocBoundaries]]'s sidecar), and `_manifest` carries the
    * writer-side sha1 so [[auditTokenBin]] verifies landed bytes
    * unchanged. Deterministic: layout is a pure function of the packed
    * frame. Scale shape: one shard-bounded offset window, one
    * repartition on shard, roll-on-shard-change writers. */
  def writeSequenceBin(packed: DataFrame, outDir: String,
      seqsPerShard: Long, dtype: String = "int32"): DataFrame = {
    require(seqsPerShard > 0, "seqsPerShard must be positive")
    val spark = packed.sparkSession
    import spark.implicits._
    val width = dtypeWidth(dtype)
    // checkpoint the SHARDED frame, not the index: the index layout,
    // the idx write, AND the bin writer all branch from it — without
    // this the packTokenIds aggregation (a corpus-sized shuffle) would
    // re-run once per branch
    // max(shard) rides the layout checkpoint as an observe() metric —
    // the separate agg job per export was pure driver overhead
    val obs = org.apache.spark.sql.Observation()
    val laid = packed.select(col("seq").cast("long"),
        col("token_ids"), col("n").cast("long"))
      .withColumn("shard", (col("seq") / seqsPerShard).cast("long"))
      .observe(obs, max(col("shard")).as("mx"))
      .localCheckpoint(true)
    val wOff = Window.partitionBy(col("shard")).orderBy(col("seq"))
    val index = laid.withColumn("offset",
        coalesce(sum(col("n")).over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("seq"), col("offset"),
        col("n").as("n_tokens"))
    try {
      val maxShard = obs.get.get("mx").flatMap(Option(_)).map(_.asInstanceOf[Long])
      require(maxShard.forall(_ < Int.MaxValue - 1),
        s"shard count ${maxShard.map(_ + 1).getOrElse(0L)} exceeds Int range — " +
          "raise seqsPerShard (a bin file should be GBs, not KBs)")
      val nShards = maxShard.fold(0)(_.toInt + 1)
      // zero-row input: plain schema-carrying empty idx file (see
      // [[writeTokenBin]] — partitionBy over nothing writes no data
      // file and the read-back would die on schema inference)
      if (nShards > 0)
        index.repartition(nShards, col("shard"))
          .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/idx")
      else index.write.mode("overwrite").parquet(s"$outDir/idx")
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      // manifest `n_docs` counts SEQUENCES here — a packed sequence IS
      // the training sample (doc == sample is the whole artifact's
      // unit), and the shared column name keeps `auditTokenBin` and
      // every manifest consumer schema-compatible across both writers
      val manifest =
        if (nShards == 0)
          Seq.empty[(Long, Long, Long, Long, String)]
            .toDF("shard", "n_docs", "n_tokens", "n_bytes", "sha1")
        else laid
          .repartition(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col("seq"))
          .select(col("shard"), col("token_ids"))
          .as[(Long, Seq[Int])]
          .mapPartitions { it =>
            val w = new ShardBinWriter(outDir, conf, width, Map.empty)
              .install(org.apache.spark.TaskContext.get())
            it.foreach { case (shard, ids) => w.sequence(shard, ids) }
            w.results()
          }
          .toDF("shard", "n_docs", "n_tokens", "n_bytes", "sha1")
      // checkpoint BEFORE the sort: a global sort's range-exchange
      // sampling pass re-executes the child, and the child here is the
      // side-effecting bin writer — unchecked, every export wrote its
      // bytes twice (benign for overwrite, 2× the IO at scale). Sort in
      // one partition: shard-count rows (see writeTokenBin).
      val m = manifest.withColumn("dtype", lit(dtype))
        .localCheckpoint(true).repartition(1).sortWithinPartitions("shard")
      m.write.mode("overwrite").parquet(s"$outDir/_manifest")
      m
    } finally laid.unpersist(): Unit
  }

  /** INCREMENTAL append to a [[writeTokenBin]] export — the
    * daily-batch path: stored docs keep their (shard, offset)
    * untouched; the batch's NEW docs (ids not already in `idx/` —
    * re-appended ids are skipped, so a replayed batch is a no-op, the
    * [[graft.streaming.DocumentIngest]] replay discipline) lay out by
    * the same seeded-hash machinery into the TAIL shard's remaining
    * budget and fresh shards beyond it. Only those files are written:
    * untouched shard bins and idx files keep FILE IDENTITY; the tail
    * bin (when it had budget left) is rewritten once from its landed
    * bytes + the new tokens; `_manifest` is FOLDED (untouched rows
    * carried, touched rows replaced), never recomputed from the
    * corpus. Returns the DELTA manifest (touched shards only) — feed
    * its shard ids to [[exportMegatronIdx]]'s `onlyShards` to refresh
    * the binary idx of exactly the touched shards.
    *
    * Scale shape: the stored side contributes one PRUNED column scan
    * of `idx/` (the 8-byte id column, for the new-id anti-join) plus
    * at most ONE shard's byte copy; everything else is batch-sized —
    * the same delta-cost contract the band store
    * ([[Dedup.writeBandStoreBucketed]] + probe) and
    * [[Retrieval.mergeIndex]] honor. `groups > 1` (the corpus-scale
    * batch layout) starts at fresh shards instead of filling the tail
    * (per-group tail state doesn't exist); the cost is at most one
    * under-filled boundary shard per append. */
  def appendTokenBin(tokens: DataFrame, idCol: String, outDir: String,
      tokensPerShard: Long, seed: Long = 42L, groups: Int = 1): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    val mPath = new org.apache.hadoop.fs.Path(s"$outDir/_manifest")
    val fs0 = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs0.exists(mPath))
      return writeTokenBin(tokens, idCol, outDir, tokensPerShard, seed, groups)
    // ONE collect serves every manifest-derived scalar below (empty
    // check, dtype, tail state) AND the fold at the end: the manifest
    // is shard-count-sized, so it lives as local rows — the previous
    // shape paid a localCheckpoint job plus a collect job per append,
    // and the fold re-read the checkpoint
    val mDf = withDtypeCol(spark.read.parquet(s"$outDir/_manifest"))
    val mSchema = mDf.schema
    val mRows = mDf.collect()
    val oldManifest = spark.createDataFrame(
      java.util.Arrays.asList(mRows: _*), mSchema)
    if (mRows.isEmpty)
      return writeTokenBin(tokens, idCol, outDir, tokensPerShard, seed, groups)
    def fld(r: org.apache.spark.sql.Row, n: String) = r.getLong(r.fieldIndex(n))
    val dtype = mRows.head.getString(mRows.head.fieldIndex("dtype"))
    val width = dtypeWidth(dtype)
    val tail = mRows.maxBy(fld(_, "shard"))
    val (tailShard, tailDocs, tailToks) =
      (fld(tail, "shard"), fld(tail, "n_docs"), fld(tail, "n_tokens"))
    val storedIds = spark.read.parquet(s"$outDir/idx").select(col(idCol))
    // EAGER checkpoint, not persist: the idx append below refreshes the
    // path's cache entries, and a persisted-but-recomputable anti-join
    // against idx/ would re-run AFTER the append — seeing its own new
    // ids as "stored" and silently emptying the delta. Severing the
    // lineage makes the batch's new-doc set immune to the write.
    // Batch-sized materialization, the append's working set. The
    // new-doc count rides the checkpoint as an observe() metric: a
    // REPLAYED batch (count 0) exits here with the empty delta instead
    // of paying the layout/index/touched machinery for nothing.
    val ntObs = org.apache.spark.sql.Observation()
    val newToks = tokens.join(storedIds, Seq(idCol), "left_anti")
      .observe(ntObs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    if (ntObs.get.get("n").fold(0L)(_.asInstanceOf[Long]) == 0L)
      return oldManifest.limit(0)
    locally {
      val counts = newToks.groupBy(col(idCol)).agg(count(lit(1)).as("ntok"))
      val layoutKey = xxhash64(col(idCol), lit(seed))
      // layout the new docs AFTER the stored corpus: with groups == 1
      // the cumulative layout starts at the tail shard's fill level
      // (capped at the budget — an overfull tail, one straddling doc,
      // opens a fresh shard); grouped layouts start at tailShard + 1
      val assigned =
        if (groups == 1) {
          val fillBase = math.min(tailToks, tokensPerShard)
          val w = Window.orderBy(layoutKey, col(idCol))
          val cum = coalesce(sum(col("ntok")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          counts.withColumn("shard",
            lit(tailShard) + ((cum + lit(fillBase)) / tokensPerShard).cast("long"))
        } else
          assignShards(counts, idCol, "ntok", tokensPerShard, seed, groups)
            .withColumn("shard", col("shard") + lit(tailShard + 1))
      val wOff = Window.partitionBy(col("shard")).orderBy(layoutKey, col(idCol))
      // the touched-shard set (≤ batch/tokensPerShard + 1, and with it
      // the max shard) rides the index checkpoint as an observe()
      // metric — formerly a separate distinct+collect job per append
      val shObs = org.apache.spark.sql.Observation()
      val index = assigned.withColumn("offset",
          coalesce(sum(col("ntok")).over(
            wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            // tail-shard offsets continue after the stored tokens
            + when(col("shard") === tailShard, lit(tailToks)).otherwise(lit(0L)))
        .select(col("shard"), col(idCol), col("offset"),
          col("ntok").as("n_tokens"))
        .observe(shObs, collect_set(col("shard")).as("sh"))
        .localCheckpoint(true)
      try {
        val touched = shObs.get.get("sh").fold(Seq.empty[Long])(
          _.asInstanceOf[scala.collection.Seq[Long]].toSeq.sorted)
        if (touched.isEmpty) // nothing new: untouched export, empty delta
          return oldManifest.limit(0)
        require(touched.last < Int.MaxValue - 1,
          s"shard count ${touched.last + 1} exceeds Int range — " +
            "raise tokensPerShard (a bin file should be GBs, not KBs)")
        val tailSeed: Map[Long, (Long, Long)] =
          if (touched.contains(tailShard)) Map(tailShard -> (tailDocs, tailToks))
          else Map.empty
        // idx: APPEND new files only — untouched shard directories (and
        // the tail's existing file) keep identity; the tail dir gains
        // one delta file, read back as the union
        index.repartition(touched.size, col("shard"))
          .write.mode("append").partitionBy("shard").parquet(s"$outDir/idx")
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val delta = newToks
          .join(index.select(col("shard"), col(idCol)), Seq(idCol))
          .withColumn("__k", layoutKey)
          .repartition(touched.size, col("shard"))
          .sortWithinPartitions(col("shard"), col("__k"), col(idCol),
            col("pos"), col("subpos"))
          .select(col("shard"), col("token_id").cast("int"),
            col(idCol).cast("long"))
          .as[(Long, Int, Long)]
          .mapPartitions { it =>
            val w = new ShardBinWriter(outDir, conf, width, tailSeed)
              .install(org.apache.spark.TaskContext.get())
            it.foreach { case (shard, tok, doc) => w.token(shard, tok, doc) }
            w.results()
          }
          .toDF("shard", "n_docs", "n_tokens", "n_bytes", "sha1")
          .withColumn("dtype", lit(dtype))
          // checkpoint BEFORE any sort: a range exchange's sampling
          // pass would execute the side-effecting writer a second time
          // (re-copying the just-appended tail); sort in one partition
          // — the delta is shard-count-sized
          .localCheckpoint(true)
          .repartition(1).sortWithinPartitions("shard")
        foldManifest(oldManifest, delta, touched, outDir)
        delta
      } finally index.unpersist(): Unit
    }
  }

  /** [[appendTokenBin]] for a [[writeSequenceBin]] export: `packed` is
    * the NEW batch's packed frame (its `seq` numbering starts at 0 —
    * [[Packing.packTokenIds]]'s output as-is); sequences renumber to
    * continue after the stored count, fill the tail shard's remaining
    * sequence budget, and open fresh shards beyond it. Same contract:
    * untouched files keep identity, the manifest folds, the DELTA
    * manifest returns. */
  def appendSequenceBin(packed: DataFrame, outDir: String,
      seqsPerShard: Long): DataFrame = {
    require(seqsPerShard > 0, "seqsPerShard must be positive")
    val spark = packed.sparkSession
    import spark.implicits._
    val mPath = new org.apache.hadoop.fs.Path(s"$outDir/_manifest")
    val fs0 = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs0.exists(mPath))
      return writeSequenceBin(packed, outDir, seqsPerShard)
    // ONE collect for every manifest-derived scalar (see
    // [[appendTokenBin]]): empty check, dtype, tail state, stored
    // count — and the manifest lives as LOCAL rows for the fold (no
    // localCheckpoint job, no re-read)
    val mDf = withDtypeCol(spark.read.parquet(s"$outDir/_manifest"))
    val mSchema = mDf.schema
    val mRows = mDf.collect()
    val oldManifest = spark.createDataFrame(
      java.util.Arrays.asList(mRows: _*), mSchema)
    if (mRows.isEmpty)
      return writeSequenceBin(packed, outDir, seqsPerShard)
    def fld(r: org.apache.spark.sql.Row, n: String) = r.getLong(r.fieldIndex(n))
    val dtype = mRows.head.getString(mRows.head.fieldIndex("dtype"))
    val width = dtypeWidth(dtype)
    val tail = mRows.maxBy(fld(_, "shard"))
    val (tailShard, tailSeqs, tailToks) =
      (fld(tail, "shard"), fld(tail, "n_docs"), fld(tail, "n_tokens"))
    val nStored = mRows.map(fld(_, "n_docs")).sum
    // the stored layout must have been cut at the SAME budget, or the
    // seq → shard arithmetic below would disagree with landed files
    require(tailShard == (nStored - 1) / seqsPerShard,
      s"seqsPerShard=$seqsPerShard disagrees with the stored layout " +
        s"($nStored sequences ending in shard $tailShard)")
    // the touched-shard set rides the layout checkpoint as an
    // observe() metric (see [[appendTokenBin]])
    val shObs = org.apache.spark.sql.Observation()
    val laid = packed.select((col("seq").cast("long") + nStored).as("seq"),
        col("token_ids"), col("n").cast("long"))
      .withColumn("shard", (col("seq") / seqsPerShard).cast("long"))
      .observe(shObs, collect_set(col("shard")).as("sh"))
      .localCheckpoint(true)
    try {
      val touched = shObs.get.get("sh").fold(Seq.empty[Long])(
        _.asInstanceOf[scala.collection.Seq[Long]].toSeq.sorted)
      if (touched.isEmpty)
        return oldManifest.limit(0)
      require(touched.last < Int.MaxValue - 1,
        s"shard count ${touched.last + 1} exceeds Int range — " +
          "raise seqsPerShard (a bin file should be GBs, not KBs)")
      val tailSeed: Map[Long, (Long, Long)] =
        if (touched.contains(tailShard)) Map(tailShard -> (tailSeqs, tailToks))
        else Map.empty
      val wOff = Window.partitionBy(col("shard")).orderBy(col("seq"))
      val index = laid.withColumn("offset",
          coalesce(sum(col("n")).over(
            wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
            + when(col("shard") === tailShard, lit(tailToks)).otherwise(lit(0L)))
        .select(col("shard"), col("seq"), col("offset"),
          col("n").as("n_tokens"))
      index.repartition(touched.size, col("shard"))
        .write.mode("append").partitionBy("shard").parquet(s"$outDir/idx")
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration)
      val delta = laid
        .repartition(touched.size, col("shard"))
        .sortWithinPartitions(col("shard"), col("seq"))
        .select(col("shard"), col("token_ids"))
        .as[(Long, Seq[Int])]
        .mapPartitions { it =>
          val w = new ShardBinWriter(outDir, conf, width, tailSeed)
            .install(org.apache.spark.TaskContext.get())
          it.foreach { case (shard, ids) => w.sequence(shard, ids) }
          w.results()
        }
        .toDF("shard", "n_docs", "n_tokens", "n_bytes", "sha1")
        .withColumn("dtype", lit(dtype))
        // checkpoint BEFORE any sort (see [[appendTokenBin]]: a range
        // exchange's sampling pass would re-run the tail rewrite);
        // one-partition sort — the delta is shard-count-sized
        .localCheckpoint(true)
        .repartition(1).sortWithinPartitions("shard")
      foldManifest(oldManifest, delta, touched, outDir)
      delta
    } finally laid.unpersist(): Unit
  }

  /** Align a pre-dtype manifest (written before the column existed)
    * with the current schema. */
  private def withDtypeCol(m: DataFrame): DataFrame =
    if (m.columns.contains("dtype")) m else m.withColumn("dtype", lit("int32"))

  /** Fold an append's delta into the stored `_manifest`: untouched
    * rows carried by value, touched rows replaced — shard-count-sized
    * work, never corpus-sized. */
  private def foldManifest(oldManifest: DataFrame, delta: DataFrame,
      touched: Seq[Long], outDir: String): Unit =
    oldManifest.filter(!col("shard").isin(touched: _*))
      .unionByName(delta)
      .repartition(1).sortWithinPartitions("shard") // shard-count rows
      .write.mode("overwrite").parquet(s"$outDir/_manifest")

  /** Positioned-read fetch from a [[writeTokenBin]] export: for each
    * index row, seek 4·offset into its shard's bin and read exactly
    * 4·n_tokens bytes — cost ∝ requested documents, never export size
    * (the CDX random-access pattern on the training artifact). Returns
    * `(<idCol>, token_ids array<int>)`. Pass a filtered slice of
    * `outDir/idx` (or any frame with shard/offset/n_tokens). */
  /** Greedily group offset-sorted `(id, offset, n)` spans into runs of
    * CONTIGUOUS spans (next.offset == prev.offset + prev.n) capped at
    * `maxTokens` per run — the trainer access pattern is a contiguous
    * epoch window, and one positioned read per run beats one per
    * document on any latency-bound store (S3/HDFS). Pure function,
    * unit-tested directly. */
  private def atMostInt(v: Long): Int = {
    require(v >= 0 && v <= Int.MaxValue, s"read of $v bytes exceeds one buffer")
    v.toInt
  }

  private[graft] def coalesceSpans(rows: Seq[(Long, Long, Int)],
      maxTokens: Long): Seq[Seq[(Long, Long, Int)]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Long, Int)]]
    val cur = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var curTok = 0L
    rows.foreach { r =>
      val contiguous = cur.nonEmpty && {
        val (_, off, n) = cur.last; off + n == r._2
      }
      if (cur.isEmpty || (contiguous && curTok + r._3 <= maxTokens)) {
        cur += r; curTok += r._3
      } else {
        out += cur.toSeq; cur.clear(); cur += r; curTok = r._3
      }
    }
    if (cur.nonEmpty) out += cur.toSeq
    out.toSeq
  }

  /** Seeded EPOCH-SHUFFLE read plan over a binary export's index — the
    * trainer's actual access pattern: a full per-sample random
    * permutation would defeat [[coalesceSpans]] (every span lands
    * non-adjacent → one positioned read per document); the standard
    * fix (the Megatron/streaming-loader practice) permutes fixed-size
    * BLOCKS and keeps within-block order, so a shuffled epoch still
    * coalesces to ~one IO per block while every epoch (seed) visits
    * the data in a different order. Adds to the index frame:
    *
    *   - `block`: shard-local block id (`offset / blockTokens` — a
    *     pure per-row expression, blocks are fixed TOKEN windows);
    *   - `epoch_pos`: the row's dense position in the permuted epoch
    *     (blocks ordered by xxhash64(shard, block, epochSeed), rows
    *     inside a block in offset order).
    *
    * Deterministic per (index, blockTokens, epochSeed). Scale shape:
    * the permutation lives on the BLOCK table (corpus tokens /
    * blockTokens rows — 100 TB at the 16M-token read cap ≈ 6M rows,
    * metadata-sized; the [[Sampling.takeQuotaByDraw]] discipline of
    * windowing only metadata frames), per-block sizes are one hash
    * aggregation, and the only corpus-row-sized operations are one
    * (shard, block) equi-join and one BLOCK-bounded row_number — no
    * corpus-global window anywhere. Consume with
    * `repartitionByRange(col("epoch_pos"))` +
    * `sortWithinPartitions("epoch_pos")` → [[readTokenBin]]: each
    * task's spans group into whole blocks and coalesce. */
  def epochShufflePlan(index: DataFrame, blockTokens: Long,
      epochSeed: Long): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val withBlock = index.withColumn("block",
      (col("offset").cast("long") / blockTokens).cast("long"))
    val perm = xxhash64(col("shard"), col("block"), lit(epochSeed))
    val blocks = withBlock.groupBy(col("shard"), col("block"))
      .agg(count(lit(1)).as("__n"))
    val wPerm = Window.orderBy(perm, col("shard"), col("block"))
    val based = blocks.withColumn("__base",
        coalesce(sum(col("__n")).over(
          wPerm.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("block"), col("__base"))
    val wIn = Window.partitionBy(col("shard"), col("block"))
      .orderBy(col("offset"))
    withBlock.join(based, Seq("shard", "block"))
      .withColumn("epoch_pos",
        col("__base") + row_number().over(wIn).cast("long") - 1L)
      .drop("__base")
  }

  def readTokenBin(index: DataFrame, idCol: String, outDir: String,
      dtype: String = null, claimCol: String = null): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    // element width follows the export's landed dtype (manifest record;
    // int32 when absent) — a uint16 export reads back as the same ids.
    // A caller already holding the manifest (or the writer's return)
    // passes `dtype` and skips the manifest-probe job.
    val width = dtypeWidth(Option(dtype).getOrElse(binDtype(spark, outDir)))
    // a doc past Int.MaxValue/width tokens would overflow `n * width`
    // into a negative array size (or silently wrap) — fail with the
    // bound named instead of casting blind
    val nTok = when(col("n_tokens").cast("long") < 0L ||
        col("n_tokens").cast("long") > lit((Int.MaxValue / width).toLong),
      raise_error(concat(lit("readTokenBin: n_tokens="),
        col("n_tokens").cast("string"),
        lit(s" outside [0, ${Int.MaxValue / width}] — a single positioned " +
          "read is capped at 2 GiB; fetch such a document in chunks"))))
      .otherwise(col("n_tokens").cast("int"))
    index.select(col("shard").cast("long"), col(idCol).cast("long"),
        col("offset").cast("long"), nTok)
      .as[(Long, Long, Long, Int)]
      .mapPartitions { it =>
        // one open stream per shard per partition, rows offset-sorted
        // so seeks run forward-only — and CONTIGUOUS spans coalesce
        // into one positioned read each ([[coalesceSpans]], capped at
        // 16M tokens = 64/32 MiB per read at int32/uint16): a trainer's
        // epoch window is one contiguous run per shard, so the fetch is
        // one IO, not one per document
        val byShard = it.toSeq.groupBy(_._1)
        byShard.iterator.flatMap { case (shard, rows) =>
          val p = new org.apache.hadoop.fs.Path(outDir,
            f"shard-$shard%05d.bin")
          val in = p.getFileSystem(conf.value).open(p)
          try {
            val spans = rows.sortBy(_._3)
              .map { case (_, id, off, n) => (id, off, n) }
            coalesceSpans(spans, maxTokens = 16L << 20).flatMap { run =>
              val first = run.head._2
              val total = run.iterator.map(_._3.toLong).sum
              val bytes = new Array[Byte](atMostInt(total * width.toLong))
              in.readFully(first * width.toLong, bytes)
              val bb = java.nio.ByteBuffer.wrap(bytes)
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              run.map { case (id, off, n) =>
                bb.position(((off - first) * width.toLong).toInt)
                val arr =
                  if (width == 4) Array.fill(n)(bb.getInt())
                  else Array.fill(n)(bb.getShort() & 0xFFFF)
                // the index's own n_tokens claim rides along so a
                // conservation witness (Σ fetched vs Σ claimed) is ONE
                // aggregation over ONE idx scan, not two jobs
                (id, arr, n.toLong)
              }
            }
          } finally in.close()
        }
      }
      .toDF(idCol, "token_ids", "__claim")
      .transform(d => if (claimCol == null) d.drop("__claim")
        else d.withColumnRenamed("__claim", claimCol))
  }

  /** Audit a [[writeTokenBin]] export from the LANDED bytes: stream
    * every bin (one task per shard), recompute (n_bytes, sha1), join
    * the manifest — a LOST shard is a manifest-only row, a truncated
    * or bit-flipped one a length/sha1 drift. Returns the mismatches
    * (empty = clean). */
  def auditTokenBin(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val manifest = spark.read.parquet(s"$outDir/_manifest")
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bins = if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("shard-") && n.endsWith(".bin")).sorted
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val landed = spark.createDataset(bins)
      .repartition(math.max(bins.size, 1))
      .map { name =>
        val shard = name.stripPrefix("shard-").stripSuffix(".bin").toLong
        val path = new org.apache.hadoop.fs.Path(outDir, name)
        // a shard the filesystem itself refuses to read (its own
        // checksum layer caught the corruption first) is a FINDING,
        // not an audit crash: report it unreadable and let the join
        // flag it like any length/sha1 drift
        try {
          val in = path.getFileSystem(conf.value).open(path)
          val digest = java.security.MessageDigest.getInstance("SHA-1")
          var n = 0L
          val buf = new Array[Byte](1 << 16)
          try {
            var r = in.read(buf)
            while (r >= 0) {
              if (r > 0) { digest.update(buf, 0, r); n += r }
              r = in.read(buf)
            }
          } finally in.close()
          (shard, n, digest.digest().map("%02x".format(_)).mkString)
        } catch {
          case e: java.io.IOException => (shard, -1L, s"unreadable: $e".take(160))
        }
      }
      .toDF("shard", "n_bytes", "sha1")
    landed.as("l").join(manifest.as("m"), Seq("shard"), "full_outer")
      .filter(col("l.n_bytes").isNull || col("m.n_bytes").isNull ||
        col("l.n_bytes") =!= col("m.n_bytes") ||
        col("l.sha1") =!= col("m.sha1"))
  }

  /** Megatron-LM `MMIDIDX` binary header magic (public
    * `indexed_dataset.py` convention). */
  private val MegatronMagic: Array[Byte] =
    "MMIDIDX".getBytes(java.nio.charset.StandardCharsets.US_ASCII) ++
      Array[Byte](0, 0)

  /** Write the BINARY Megatron-style `shard-NNNNN.idx` next to each
    * shard's `.bin` — the interchange twin of [[ModelStore.exportGpt2]]
    * for the training artifact: the parquet `idx/` is engine-internal;
    * this is the index a real Megatron/GPT `MMapIndexedDataset` loader
    * mmaps without engine code (public Megatron-LM `indexed_dataset.py`
    * layout: `MMIDIDX\0\0` magic, version=1 u64 LE, dtype code u8
    * (4 = int32, 8 = uint16 — follows the export's landed dtype),
    * sequence count u64, document-index length u64, then sizes
    * int32[], byte pointers int64[], doc_idx int64[] — one sequence
    * per DOCUMENT here, so doc_idx is 0..n). Deterministic: entries in
    * shard layout order (offset-sorted), so re-export is
    * byte-identical. Scale shape: one task per shard, rows per task
    * bounded by docs-per-shard (the tokensPerShard budget), written
    * through the [[AtomicSink]] commit. Returns
    * `(shard, n_docs, idx_bytes, sha1)`.
    *
    * `onlyShards` (the [[appendTokenBin]] delta-refresh path) limits
    * the rewrite to the named shards: the `shard=` filter prunes the
    * partitioned idx read to exactly the touched directories, so an
    * append's idx refresh is delta-sized, never corpus-sized. */
  def exportMegatronIdx(spark: SparkSession, outDir: String,
      onlyShards: Seq[Long] = null): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val dtypeCode = megatronCode(binDtype(spark, outDir))
    val width = dtypeWidth(dtypeOfCode(dtypeCode))
    val idxAll = spark.read.parquet(s"$outDir/idx")
    val idx = Option(onlyShards).filter(_.nonEmpty)
      .map(ss => idxAll.filter(col("shard").isin(ss: _*)))
      .getOrElse(idxAll)
    idx
      .select(col("shard").cast("long"), col("offset").cast("long"),
        col("n_tokens").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (shard, it) =>
        val ctx = org.apache.spark.TaskContext.get()
        val docs = it.map { case (_, off, n) => (off, n) }.toArray.sortBy(_._1)
        docs.foreach { case (off, n) =>
          require(n >= 0 && n <= Int.MaxValue,
            s"shard $shard: n_tokens $n unrepresentable in Megatron's " +
              "int32 sizes[] — split the document before export")
          require(off >= 0 && off * width.toLong >= 0, s"shard $shard: offset $off")
        }
        val bos = new java.io.ByteArrayOutputStream(
          MegatronMagic.length + 26 + docs.length * 12 + (docs.length + 1) * 8)
        val digest = java.security.MessageDigest.getInstance("SHA-1")
        val out = new java.io.DataOutputStream(
          new java.security.DigestOutputStream(bos, digest))
        def u64(v: Long): Unit = out.write(java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array())
        def i32(v: Int): Unit = out.write(java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array())
        out.write(MegatronMagic)
        u64(1L)                       // version
        out.writeByte(dtypeCode)      // dtype code (element width of .bin)
        u64(docs.length.toLong)       // sequence count
        u64(docs.length.toLong + 1)   // doc_idx length
        docs.foreach { case (_, n) => i32(n.toInt) }   // sizes
        docs.foreach { case (off, _) => u64(off * width.toLong) } // byte pointers
        (0L to docs.length.toLong).foreach(u64)         // doc_idx 0..n
        out.close()
        val bytes = bos.toByteArray
        val dest = new org.apache.hadoop.fs.Path(outDir, f"shard-$shard%05d.idx")
        val fs = dest.getFileSystem(conf.value)
        val tmp = AtomicSink.tempFor(dest, ctx.taskAttemptId())
        val s = fs.create(tmp, true)
        try s.write(bytes) finally s.close()
        AtomicSink.commit(fs, tmp, dest)
        (shard, docs.length.toLong, bytes.length.toLong,
          digest.digest().map("%02x".format(_)).mkString)
      }
      .toDF("shard", "n_docs", "idx_bytes", "sha1")
      // EAGER: this is a side-effecting writer — a lazy return would
      // write nothing until (unless) the caller collects it
      .localCheckpoint(true)
  }

  /** Read back every `shard-NNNNN.idx` binary ([[exportMegatronIdx]]'s
    * format): parse + VALIDATE the header (magic, version, dtype code
    * 4/int32 or 8/uint16, doc_idx monotone 0..nSeq, pointers
    * element-aligned) and return `(shard, seq, offset, n_tokens)` —
    * `seq` the in-shard sequence position, `offset` in TOKENS (byte
    * pointer ÷ element width), directly comparable to the parquet
    * `idx/` (which additionally carries the doc id; the binary format
    * has no id column — position is identity, by design).
    *
    * doc_idx: this writer emits the identity 0..n (one document per
    * sequence), but a valid `.idx` from upstream Megatron
    * preprocessing groups several sequences per document — doc_idx is
    * then any monotone non-decreasing array starting at 0 and ending
    * at nSeq. Both are accepted; the boundaries are validated and
    * ignored (position stays the sequence identity). One task per
    * shard file. */
  def importMegatronIdx(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val idxFiles = if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.startsWith("shard-") && n.endsWith(".idx")).sorted
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.createDataset(idxFiles)
      .repartition(math.max(idxFiles.size, 1))
      .flatMap { name =>
        val shard = name.stripPrefix("shard-").stripSuffix(".idx").toLong
        val path = new org.apache.hadoop.fs.Path(outDir, name)
        val fsT = path.getFileSystem(conf.value)
        val len = fsT.getFileStatus(path).getLen
        require(len <= Int.MaxValue, s"$name: idx over 2 GiB")
        val bytes = new Array[Byte](len.toInt)
        val in = fsT.open(path)
        try in.readFully(0L, bytes) finally in.close()
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val magic = new Array[Byte](MegatronMagic.length)
        bb.get(magic)
        require(magic.sameElements(MegatronMagic),
          s"$name: bad magic ${magic.map("%02x".format(_)).mkString}")
        require(bb.getLong == 1L, s"$name: unsupported version")
        val width = dtypeWidth(dtypeOfCode(bb.get()))
        val nSeq = bb.getLong
        val nDocIdx = bb.getLong
        require(nSeq >= 0 && nSeq <= Int.MaxValue &&
            nDocIdx >= 1 && nDocIdx <= nSeq + 1,
          s"$name: counts nSeq=$nSeq nDocIdx=$nDocIdx")
        val sizes = Array.fill(nSeq.toInt)(bb.getInt)
        val pointers = Array.fill(nSeq.toInt)(bb.getLong)
        var prev = -1L
        (0 until nDocIdx.toInt).foreach { i =>
          val v = bb.getLong
          require((if (i == 0) v == 0L else v >= prev) && v <= nSeq,
            s"$name: doc_idx[$i]=$v not monotone within [0, $nSeq]")
          prev = v
        }
        require(prev == nSeq,
          s"$name: doc_idx ends at $prev, expected nSeq=$nSeq")
        require(!bb.hasRemaining, s"$name: ${bb.remaining} trailing bytes")
        pointers.foreach(ptr => require(ptr % width == 0,
          s"$name: pointer $ptr not aligned to the $width-byte element"))
        (0 until nSeq.toInt).map(i =>
          (shard, i.toLong, pointers(i) / width, sizes(i).toLong))
      }
      .toDF("shard", "seq", "offset", "n_tokens")
  }

  /** [[auditShards]] for a [[writeShardsJsonl]] export: the landed
    * side reads back through the JSON lines under the WRITER'S data
    * schema (`dataSchema` — pass `df.schema`; JSON inference would
    * widen/re-type columns and the checksum over re-typed values would
    * read as corruption). Shortest-repr JSON round-trips doubles and
    * longs exactly, so value checksums match the parquet export's. */
  def auditShardsJsonl(spark: SparkSession, outDir: String, idCol: String,
      ntokCol: String, dataSchema: org.apache.spark.sql.types.StructType,
      checksumCols: Seq[String] = Nil): DataFrame = {
    val manifest = spark.read.parquet(s"$outDir/_manifest")
    val cs: Seq[String] =
      if (checksumCols.nonEmpty) checksumCols
      else manifest.select("checksum_cols").limit(1).collect()
        .headOption.map(_.getString(0).split(",").toSeq).getOrElse(Nil)
    val manifestCmp = manifest.drop("checksum_cols")
    val p = new org.apache.hadoop.fs.Path(outDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) &&
      fs.listStatus(p).exists(s => !s.getPath.getName.startsWith("_"))
    val landed =
      if (hasData) {
        val shards = spark.read.schema(dataSchema).json(outDir)
        shards.groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum(col(ntokCol)).as("n_tokens"),
          checksumTerm(checksumColumns(shards, cs)).as("checksum"))
      } else manifestCmp.limit(0)
    landed.as("l").join(manifestCmp.as("m"), "shard", "full_outer")
      .filter(col("l.n_docs").isNull || col("m.n_docs").isNull ||
        col("l.n_docs") =!= col("m.n_docs") ||
        col("l.n_tokens") =!= col("m.n_tokens") ||
        col("l.checksum") =!= col("m.checksum"))
  }
}
