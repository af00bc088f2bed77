package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Accumulated CDX capture index as a BUCKETED, urlkey-SORTED catalog
  * store — the serving-side complement of the per-batch cdx sidecars
  * [[graft.streaming.DocumentIngest.sidecarMaintenance]] derives: the
  * per-batch layout is write-cheap but a site-scoped query over it
  * must LIST and touch every `batch_id=N` directory, a cost that grows
  * with batch count even though zone maps prune within each file. This
  * store folds the accumulating batches into one bucketed table
  * (hash-bucketed on (urlkey, row-signature) — the append anti-join's exact keys, so the bucketed scan is reused and appends never re-shuffle the store — and SORTED on `urlkey`), so
  *
  *  - a SITE query ([[capturesForSite]]) is a contiguous-range
  *    predicate over the SURT keyspace ([[UrlOps.surtKey]]: one site =
  *    one key range) that reaches the parquet scan as a pushed filter
  *    and prunes to the site's own row groups via min/max zone maps —
  *    listing cost is one table, not one directory per batch;
  *  - the APPEND anti-join — the per-micro-batch hot loop — runs with
  *    NO store-side Exchange: its (urlkey, row-signature) keys are
  *    exactly the bucket columns, so the bucketed scan is reused and
  *    only the batch shuffles (plan-asserted);
  *  - appends are REPLAY-SAFE: a re-delivered micro-batch anti-joins
  *    against the store on full row identity via the stored signature
  *    and appends nothing.
  *
  * Maintenance follows the seen-store protocol exactly: per-batch
  * appends accumulate one file per bucket per batch; [[compact]] folds
  * them back to one sorted file per bucket through the crash-safe
  * rename-aside swap ([[graft.store.Bucketing.compactSwap]]), and every
  * existence-guarded path runs [[graft.store.Bucketing
  * .recoverCompacted]] first.
  *
  * 100-TB shape: append cost ∝ batch (the store side of the anti-join
  * scans Exchange-free in bucket layout); compaction is one
  * bucket-preserving rewrite on a maintenance cadence; a site read
  * costs the site's row groups, never the index.
  *
  * Reference: rearview keeps no capture archive (persistence is
  * Rails-side, `app/models/job.rb`); this is corpus-pipeline extension
  * surface, the CommonCrawl CDX-index serving shape expressed
  * Spark-native. */
object CdxStore {

  /** Every stored row carries its full-content signature as a REAL
    * column: the replay-dedup anti-join must run on BARE attributes —
    * a null-safe comparison per column compiles the join keys into
    * `coalesce/isnull` EXPRESSIONS, which can never match the bucket
    * layout's `HashPartitioning(urlkey)`, so every append re-shuffled
    * the whole accumulated index (CdxStoreSpec's one-Exchange plan
    * assert is the regression gate). sha1-over-to_json is
    * collision-safe per schema (distinct rows → distinct JSON; null
    * fields are omitted, which is unambiguous within one schema) and
    * null-proof (a null field cannot null the signature). */
  val SigCol = "row_sig"
  private[graft] def withSig(df: DataFrame): DataFrame =
    df.withColumn(SigCol, sha1(to_json(struct(
      df.columns.sorted.map(col).toIndexedSeq: _*))))

  /** Rows of `captures` (any schema that includes a string `urlkey`
    * column) folded into the store at batch cost. Rows with a NULL
    * urlkey (unparseable URLs) are dropped — they cannot live in a
    * urlkey-keyed range store; count them upstream if they matter.
    * Creates the store when absent; idempotent under replay (anti-join
    * on (urlkey, [[SigCol]]) — full-row identity via the stored
    * signature, bare-attribute keys so the store side keeps its bucket
    * layout and only the batch shuffles). The stored schema gains the
    * [[SigCol]] column; readers that care select their own columns. */
  def append(captures: DataFrame, table: String, buckets: Int = 32): Unit = {
    val spark = captures.sparkSession
    val rows = withSig(captures.filter(col("urlkey").isNotNull))
    if (!graft.store.Bucketing.recoverCompacted(spark, table)) {
      graft.store.Bucketing.dropWithLocation(spark, table)
      rows.repartition(buckets, col("urlkey"), col(SigCol))
        .write.mode("overwrite")
        .bucketBy(buckets, "urlkey", SigCol).sortBy("urlkey")
        .format("parquet").saveAsTable(table)
    } else {
      val delta = freshAgainstStore(rows, table).persist()
      try {
        // steady-state fast path: a replayed batch appends nothing
        if (!delta.isEmpty)
          delta.repartition(buckets, col("urlkey"), col(SigCol))
            .write.mode("append")
            .bucketBy(buckets, "urlkey", SigCol).sortBy("urlkey")
            .format("parquet").saveAsTable(table)
      } finally {
        delta.unpersist()
        ()
      }
    }
  }

  /** Fold the per-batch append files back to ONE sorted file per
    * bucket (zone maps are only as tight as the files they describe —
    * a site's key range fragments across every batch's file until
    * compacted). Crash-safe swap; run on a maintenance cadence. */
  def compact(spark: SparkSession, table: String, buckets: Int = 32): Unit =
    graft.store.Bucketing.compactSwap(spark, table) { tmp =>
      spark.table(table).distinct()
        .repartition(buckets, col("urlkey"), col(SigCol))
        .write.mode("overwrite")
        .bucketBy(buckets, "urlkey", SigCol).sortBy("urlkey")
        .format("parquet").saveAsTable(tmp)
    }

  /** The exclusive upper bound of a SURT prefix's key range: the
    * prefix with its final CODE POINT incremented — every key that
    * STARTS WITH the prefix (and nothing else) falls in [prefix, end).
    * Spark orders strings by their UTF-8 bytes, which is code-point
    * order, so the increment skips the surrogate block (U+D7FF is
    * followed by U+E000) and carries past U+10FFFF. A UTF-16 `char`
    * increment would turn U+D7FF into a lone surrogate and U+FFFF into
    * U+0000, an end below the prefix. */
  private[graft] def siteRangeEnd(prefix: String): String = {
    require(prefix.nonEmpty, "empty site prefix")
    val last = prefix.codePointBefore(prefix.length)
    val init = prefix.substring(0, prefix.length - Character.charCount(last))
    if (last == Character.MAX_CODE_POINT) {
      require(init.nonEmpty, "a prefix of U+10FFFF only has no upper bound")
      siteRangeEnd(init)
    } else {
      val next = if (last + 1 == Character.MIN_SURROGATE) Character.MAX_SURROGATE + 1 else last + 1
      init + new String(Character.toChars(next))
    }
  }

  /** cluster.idx key order: Spark's own (UTF-8 bytes, [[UTF8String]]),
    * which computed the blocks' `k_min`/`k_max`. Java's `String` order
    * is UTF-16 order and differs past the BMP: U+1F600 sorts before
    * U+FFFD as a `String` but after it in Spark. */
  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** Every stored capture of one site, as a RANGE predicate over the
    * SURT keyspace — `urlkey >= 'com,example)' AND urlkey <
    * 'com,example*'` — that reaches the parquet scan pushed
    * (CdxStoreSpec plan-asserts it) and zone-map-prunes to the site's
    * own row groups. `sitePrefix` is the [[UrlOps.surtKey]] form of
    * the site, e.g. `com,example)` for every path under example.com,
    * or a deeper prefix (`com,example)/docs/`) for a subtree. */
  def capturesForSite(spark: SparkSession, table: String,
      sitePrefix: String): DataFrame = {
    require(graft.store.Bucketing.recoverCompacted(spark, table),
      s"no such cdx store: $table")
    spark.table(table)
      .filter(col("urlkey") >= lit(sitePrefix) &&
        col("urlkey") < lit(siteRangeEnd(sitePrefix)))
  }

  /** SITE-scoped latest-capture SERVING straight from the store — the
    * weekly-recrawl serving shape, end to end: range-prune the site's
    * captures ([[capturesForSite]]), decide winners on that metadata,
    * resolve revisit winners through Refers-To with the digest gate
    * ([[Warc.readLatestCapturesDeduped]]), fetch exactly the winners'
    * byte ranges. Works on a PLAIN index store too (no linkage
    * columns → the plain fused path).
    *
    * Cross-site mirrors: a revisit inside the site can Refer-To a
    * capture OUTSIDE the site's key range. The referred keys are
    * derived from the slice (site-bounded), and their store rows fetch
    * through a PUSHED IN-predicate when the distinct key count fits
    * `maxRefKeys` (zone maps prune to the referred row groups — cost
    * stays ∝ site); past the cap it falls back to an urlkey equi-join
    * over the index — one index-metadata shuffle, never archive
    * bytes. */
  def serveLatestCaptures(spark: SparkSession, table: String,
      sitePrefix: String, normalize: Boolean = true,
      maxRefKeys: Int = 10000): DataFrame =
    serveLatestCaptures(spark, table, sitePrefix, None, normalize, maxRefKeys)

  /** [[serveLatestCaptures]] AS OF a date — the wayback query shape:
    * only captures with `warc_date <= asOf` (ISO-8601 compares
    * chronologically as a string) compete for winner-ship, so the
    * site serves exactly as it stood at that instant. The as-of
    * filter applies to the DECISION slice only: a revisit's original
    * always predates it (the dedup winner is the EARLIEST capture),
    * so every resolvable original is inside the cut by construction,
    * and the out-of-range originals lookup stays unfiltered (those
    * rows are named explicitly by Refers-To). */
  def serveLatestCaptures(spark: SparkSession, table: String,
      sitePrefix: String, asOf: Option[String], normalize: Boolean,
      maxRefKeys: Int): DataFrame = {
    val slice0 = capturesForSite(spark, table, sitePrefix)
    val slice = asOf.fold(slice0)(t => slice0.filter(col("warc_date") <= lit(t)))
    val linkage = Seq("payload_digest", "refers_to_uri", "warc_type")
    if (!linkage.forall(slice.columns.contains(_)))
      return Warc.readLatestCaptures(slice, normalize)
    val end = siteRangeEnd(sitePrefix)
    // referred keys OUTSIDE the site's own range (in-range originals
    // are already in the slice), site-bounded by construction
    val refKeys = slice.filter(col("warc_type") === "revisit")
      .select(UrlOps.surtKey(col("refers_to_uri")).as("__rk"))
      .filter(col("__rk").isNotNull &&
        (col("__rk") < lit(sitePrefix) || col("__rk") >= lit(end)))
      .distinct()
    val keys = refKeys.limit(maxRefKeys + 1).collect().map(_.getString(0))
    val extra =
      if (keys.isEmpty) slice.limit(0)
      else if (keys.length <= maxRefKeys)
        spark.table(table).filter(col("urlkey").isin(keys.toSeq: _*))
      else // too many refs for a pushed IN list: bucket-layout join
        spark.table(table).join(refKeys.withColumnRenamed("__rk", "urlkey"),
          Seq("urlkey"), "left_semi")
    Warc.readLatestCapturesDeduped(slice, slice.unionByName(extra), normalize)
  }

  /** ZIPNUM-style serving export + "cluster.idx" SECONDARY INDEX (the
    * index-of-the-index CommonCrawl publishes): the store re-laid out
    * RANGE-SORTED on `urlkey` — `blocks` files, each covering a
    * CONTIGUOUS slice of the SURT keyspace — plus one tiny parquet
    * table with a row per block (file, key min/max, rows).
    *
    * Why a second layout: the live store is HASH-bucketed on urlkey
    * (that is what makes appends Exchange-free), so every bucket file
    * spans the whole keyspace and a site query must touch every
    * bucket's zone maps — cheap, but the LISTING term is O(files) and
    * at petabyte CDX scale (10⁵–10⁶ block files) even listing + footer
    * reads dominate a one-site lookup. The range layout makes a site a
    * contiguous run of blocks, and the secondary index — kilobytes —
    * names exactly those blocks, so a lookup touches cluster.idx + its
    * own blocks and NOTHING else ([[capturesForSiteIndexed]];
    * CdxStoreSpec asserts the touched-file set). Rebuild on the
    * compaction cadence: one range shuffle + one small aggregation,
    * cost ∝ store — the read-optimized twin of the write-optimized
    * bucket store, exactly CommonCrawl's cdx-…gz + cluster.idx pair. */
  def exportRangeLayout(spark: SparkSession, table: String, dir: String,
      blocks: Int = 64): Unit = {
    require(graft.store.Bucketing.recoverCompacted(spark, table),
      s"no such cdx store: $table")
    require(blocks > 0, s"blocks must be positive, got $blocks")
    // VERSIONED publish ([[graft.store.VersionedTable]]): an in-place
    // overwrite would delete blocks a reader is mid-scan over (and a
    // crash mid-rebuild would leave blocks/ and cluster.idx disagreeing)
    graft.store.VersionedTable.publish(spark, dir, referencedVersions(spark, _)) { root =>
      spark.table(table)
        .repartitionByRange(blocks, col("urlkey"))
        .sortWithinPartitions("urlkey")
        .write.mode("overwrite").parquet(s"$root/blocks")
      spark.read.parquet(s"$root/blocks")
        .groupBy(input_file_name().as("file"))
        .agg(min("urlkey").as("k_min"), max("urlkey").as("k_max"),
          count(lit(1)).as("n_rows"))
        .repartition(1) // block-count-sized: the whole point is it's tiny
        .write.mode("overwrite").parquet(s"$root/cluster.idx")
    }
  }

  /** Versions whose block FILES a published root's cluster.idx
    * references — an incremental refresh ([[refreshRangeLayout]])
    * reuses untouched block files in place, so a live index may point
    * into OLDER version directories; those must survive the sweep. */
  private def referencedVersions(spark: SparkSession, root: String): Set[Long] = {
    val re = java.util.regex.Pattern.compile("/v=(\\d+)/blocks/")
    spark.read.parquet(s"$root/cluster.idx").select("file").collect().iterator
      .map(_.getString(0))
      .flatMap { f =>
        val m = re.matcher(f)
        if (m.find()) Some(m.group(1).toLong) else None
      }.toSet
  }

  /** INCREMENTAL range-layout refresh — the rebuild-cost closure for
    * the petabyte posture: [[exportRangeLayout]] re-shuffles the WHOLE
    * store every rebuild, but appends since the last publish touch few
    * key ranges. This rewrites ONLY the blocks whose key range
    * intersects `delta`'s urlkeys (each affected block re-derived from
    * the STORE — the source of truth — via a pushed range predicate, so
    * the cost is the affected ranges' row groups, never the store), and
    * the new version's cluster.idx REUSES every untouched block file in
    * place (absolute paths; the sweep keeps any version a live index
    * still references). Versioned-publish contract unchanged: complete
    * v=N+1, atomic `_current` swap, previous published version kept one
    * full cycle.
    *
    * `delta` is the newly appended rows (or just their `urlkey`s) since
    * the last publish — the append loop has them in hand; rows must
    * already be in the store. Keys assigned to blocks by the same rule
    * lookups use (last block with k_min ≤ key; keys below the first
    * block extend block 0, keys past the last extend the final block).
    * A refreshed block absorbs its range's growth unsplit — re-balance
    * on the full-export cadence. No previous published version (or a
    * pre-versioning layout) falls back to a full export. */
  def refreshRangeLayout(spark: SparkSession, table: String, dir: String,
      delta: DataFrame, blocks: Int = 64): Unit = {
    require(graft.store.Bucketing.recoverCompacted(spark, table),
      s"no such cdx store: $table")
    // a pre-versioning layout resolves to `dir` itself: full export
    val prevRoot = graft.store.VersionedTable.current(spark, dir).filter(_ != dir)
    if (prevRoot.isEmpty) return exportRangeLayout(spark, table, dir, blocks)
    // the previous index: sorted disjoint ranges (block-count-sized)
    val prevIdx = spark.read.parquet(s"${prevRoot.get}/cluster.idx")
      .select("file", "k_min", "k_max", "n_rows")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortWith((a, b) => utf8(a._2).compareTo(utf8(b._2)) < 0)
    if (prevIdx.isEmpty) return exportRangeLayout(spark, table, dir, blocks)
    // affected block ids: assign every delta key DISTRIBUTEDLY by the
    // lookup rule (last k_min ≤ key, keys below the first block extend
    // block 0) against the broadcast block-boundary table, and collect
    // only the distinct BLOCK ids — block-count-bounded, never
    // delta-sized (a big append must not funnel its keyset through the
    // driver)
    val mins = prevIdx.map(_._2)
    import spark.implicits._
    val bounds = mins.zipWithIndex.map { case (m, i) =>
      (i, if (i == 0) "" else m, // block 0 unbounded below
        if (i == mins.length - 1) None else Some(mins(i + 1)))
    }.toSeq.toDF("__blk", "__lo", "__hi")
    val affected = scala.collection.mutable.SortedSet.empty[Int] ++
      delta.filter(col("urlkey").isNotNull).select("urlkey")
        .join(broadcast(bounds),
          col("urlkey") >= col("__lo") &&
            (col("__hi").isNull || col("urlkey") < col("__hi")))
        .select("__blk").distinct().collect().map(_.getInt(0))
    if (affected.isEmpty) return // nothing new: keep the current version
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.store.VersionedTable.publish(spark, dir, referencedVersions(spark, _)) { root =>
      // rewrite the affected blocks from the store under their ASSIGNMENT
      // ranges [k_min(i), k_min(i+1)) — first block unbounded below, last
      // unbounded above — in ONE JOB, boundary-ALIGNED: a single
      // range-repartitioned write over scattered affected blocks would
      // let a sampled partition boundary span untouched blocks' ranges,
      // and the binary-search lookup (last k_min ≤ key, one candidate)
      // would then miss keys hiding past a kept entry. So the block id
      // itself is the partition key: one OR-of-ranges predicate (pushed —
      // the store scan reads only matching row groups), the broadcast
      // bounds join tags each row's block, and a hash repartition on the
      // tag + partitionBy writes exactly one file per block into a
      // scratch dir, whose part files rename into blocks/ — driver
      // renames ∝ affected blocks, one Spark job total (the per-block
      // job loop this replaces scheduled K store scans).
      val ids = affected.toSeq
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/blocks"))
      val affectedBoundsDf = ids.map { i =>
        (i, if (i == 0) null else mins(i),
          if (i == prevIdx.length - 1) null else mins(i + 1))
      }.toDF("__blk", "__lo", "__hi")
      val cond = ids.map { i =>
        val lo = if (i == 0) None else Some(mins(i))
        val hi = if (i == prevIdx.length - 1) None else Some(mins(i + 1))
        lo.fold(lit(true))(l => col("urlkey") >= lit(l)) &&
          hi.fold(lit(true))(h => col("urlkey") < lit(h))
      }.reduce(_ || _)
      val scratch = s"$root/_rewrite"
      spark.table(table).filter(cond)
        .join(broadcast(affectedBoundsDf),
          (col("__lo").isNull || col("urlkey") >= col("__lo")) &&
            (col("__hi").isNull || col("urlkey") < col("__hi")))
        .drop("__lo", "__hi")
        .repartition(ids.size, col("__blk"))
        .sortWithinPartitions(col("__blk"), col("urlkey"))
        .write.mode("overwrite").partitionBy("__blk").parquet(scratch)
      val newFiles = ids.map { i =>
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$scratch/__blk=$i"))
          .map(_.getPath).filter(_.getName.endsWith(".parquet"))
        require(part.length == 1, s"block $i: ${part.length} part files")
        val dest = new org.apache.hadoop.fs.Path(
          s"$root/blocks", f"block-r$i%05d.parquet")
        require(fs.rename(part.head, dest), s"rename ${part.head} -> $dest")
        dest.toString
      }
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      val newEntries = spark.read.parquet(newFiles: _*)
        .groupBy(input_file_name().as("file"))
        .agg(min("urlkey").as("k_min"), max("urlkey").as("k_max"),
          count(lit(1)).as("n_rows"))
      // new index = untouched prev entries (files reused in place) ∪ the
      // rewritten blocks' entries
      val kept = prevIdx.zipWithIndex.collect {
        case ((f, kmin, kmax, n), i) if !affected.contains(i) => (f, kmin, kmax, n)
      }.toSeq.toDF("file", "k_min", "k_max", "n_rows")
      kept.unionByName(newEntries)
        .repartition(1)
        .write.mode("overwrite").parquet(s"$root/cluster.idx")
    }
  }

  /** The published layout root: versioned exports resolve through the
    * `_current` pointer; a pre-versioning layout (blocks/ directly
    * under `dir`) reads as-is. */
  private[graft] def currentRoot(spark: SparkSession, dir: String): String =
    graft.store.VersionedTable.current(spark, dir).getOrElse(dir)

  /** Site lookup THROUGH the secondary index: read cluster.idx
    * (kilobytes), keep blocks whose [k_min, k_max] intersects the
    * site's SURT range, scan ONLY those files (plus the residual range
    * predicate — a block can straddle site boundaries). The collect is
    * cluster.idx-sized (≤ blocks rows), never data-sized. */
  def capturesForSiteIndexed(spark: SparkSession, dir: String,
      sitePrefix: String): DataFrame =
    capturesForSiteAt(spark, currentRoot(spark, dir), sitePrefix)

  /** [[capturesForSiteIndexed]] against an already-resolved version
    * root — every lookup resolves the `_current` pointer exactly ONCE,
    * so a rebuild swapping the pointer mid-query can never mix two
    * versions' files. */
  private def capturesForSiteAt(spark: SparkSession, root: String,
      sitePrefix: String): DataFrame = {
    val end = siteRangeEnd(sitePrefix)
    val files = selectedBlocksAt(spark, root, sitePrefix)
    if (files.isEmpty) spark.read.parquet(s"$root/blocks").limit(0)
    else spark.read.parquet(files: _*)
      .filter(col("urlkey") >= lit(sitePrefix) && col("urlkey") < lit(end))
  }

  /** The block files the secondary index selects for a site — the IO
    * set [[capturesForSiteIndexed]] touches (package-visible so the
    * spec can assert the scan reads exactly these and nothing else). */
  private[graft] def selectedBlocks(spark: SparkSession, dir: String,
      sitePrefix: String): Seq[String] =
    selectedBlocksAt(spark, currentRoot(spark, dir), sitePrefix)

  /** cluster.idx rows (file, k_min, k_max) sorted by k_min, memoized
    * per RESOLVED VERSION ROOT: published roots are immutable (every
    * rebuild writes a complete `v=N` and atomically swaps `_current`,
    * so a new version is a new key and a swept root's entry is dead
    * weight, kilobytes). This is the zipnum serving posture — the
    * secondary index pinned in memory, exactly what cdx servers do
    * with cluster.idx — NOT cross-run result caching: the memo is
    * in-process, index metadata only, and every block scan still reads
    * the landed files. Saves a Spark read+collect job pair per probe. */
  private val clusterIdxMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Array[(String, UTF8String, UTF8String)]]()
  private def clusterIdxAt(spark: SparkSession,
      root: String): Array[(String, UTF8String, UTF8String)] =
    clusterIdxMemo.computeIfAbsent(root, _ =>
      spark.read.parquet(s"$root/cluster.idx")
        .select("file", "k_min", "k_max")
        .collect().map(r => (r.getString(0), utf8(r.getString(1)), utf8(r.getString(2))))
        .sortWith((a, b) => a._2.compareTo(b._2) < 0))

  private def selectedBlocksAt(spark: SparkSession, root: String,
      sitePrefix: String): Seq[String] = {
    val (lo, end) = (utf8(sitePrefix), utf8(siteRangeEnd(sitePrefix)))
    clusterIdxAt(spark, root)
      .collect { case (f, kmin, kmax) if kmax.compareTo(lo) >= 0 && kmin.compareTo(end) < 0 => f }
      .toSeq.sorted
  }

  /** [[serveLatestCaptures]] THROUGH the range layout: the same
    * revisit-aware (optionally as-of) site serving, with BOTH lookups
    * index-routed — the site slice through [[capturesForSiteIndexed]]
    * and the out-of-range referred originals through [[blocksForKeys]]
    * (one cluster.idx read + a binary search per key) — so a
    * petabyte-scale layout serves a site touching the kilobyte index,
    * the site's own blocks, and the referred originals' blocks only.
    * Past `maxRefKeys` the originals fetch falls back to a semi-join
    * over the full layout (index metadata, never archive bytes). */
  def serveLatestCapturesIndexed(spark: SparkSession, dir: String,
      sitePrefix: String, asOf: Option[String] = None,
      normalize: Boolean = true, maxRefKeys: Int = 10000): DataFrame = {
    val root = currentRoot(spark, dir) // resolved ONCE for the query
    val slice0 = capturesForSiteAt(spark, root, sitePrefix)
    val slice = asOf.fold(slice0)(t => slice0.filter(col("warc_date") <= lit(t)))
    val linkage = Seq("payload_digest", "refers_to_uri", "warc_type")
    if (!linkage.forall(slice.columns.contains(_)))
      return Warc.readLatestCaptures(slice, normalize)
    val end = siteRangeEnd(sitePrefix)
    val refKeys = slice.filter(col("warc_type") === "revisit")
      .select(UrlOps.surtKey(col("refers_to_uri")).as("__rk"))
      .filter(col("__rk").isNotNull &&
        (col("__rk") < lit(sitePrefix) || col("__rk") >= lit(end)))
      .distinct()
    val keys = refKeys.limit(maxRefKeys + 1).collect().map(_.getString(0))
    val extra =
      if (keys.isEmpty) slice.limit(0)
      else if (keys.length <= maxRefKeys) {
        val blocks = blocksForKeysAt(spark, root, keys.toSeq)
        if (blocks.isEmpty) slice.limit(0)
        else spark.read.parquet(blocks: _*)
          .filter(col("urlkey").isin(keys.toSeq: _*))
      } else
        spark.read.parquet(s"$root/blocks")
          .join(refKeys.withColumnRenamed("__rk", "urlkey"),
            Seq("urlkey"), "left_semi")
    Warc.readLatestCapturesDeduped(slice, slice.unionByName(extra), normalize)
  }

  /** Blocks containing any of `keys`: ONE cluster.idx read (block-
    * count-sized collect) + a binary search per key over the sorted,
    * disjoint block ranges — O(keys · log blocks) driver work, never
    * keys × blocks. */
  private[graft] def blocksForKeys(spark: SparkSession, dir: String,
      keys: Seq[String]): Seq[String] =
    blocksForKeysAt(spark, currentRoot(spark, dir), keys)

  private def blocksForKeysAt(spark: SparkSession, root: String,
      keys: Seq[String]): Seq[String] = {
    val idx = clusterIdxAt(spark, root) // sorted by k_min (memo contract)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    keys.foreach { key =>
      val k = utf8(key)
      // last block with k_min <= k: with sorted disjoint ranges it is
      // the only candidate; membership confirmed against its k_max
      var lo = 0; var hi = idx.length - 1; var best = -1
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        if (idx(m)._2.compareTo(k) <= 0) { best = m; lo = m + 1 } else hi = m - 1
      }
      if (best >= 0 && k.compareTo(idx(best)._3) <= 0) out += idx(best)._1
    }
    out.toSeq.sorted
  }

  /** The store-side anti-join on (urlkey, [[SigCol]]) — full-row
    * identity through the stored signature, BARE-attribute equi keys:
    * the store side scans in bucket layout and Spark reuses its
    * `HashPartitioning(urlkey)` (a subset of the join keys) as the
    * join distribution, so only `candidates` — batch-sized, already
    * signature-stamped — shuffles. CdxStoreSpec plan-asserts exactly
    * one Exchange. Package-visible for that assert. */
  private[graft] def freshAgainstStore(candidates: DataFrame,
      table: String): DataFrame =
    candidates.join(
      candidates.sparkSession.table(table).select(col("urlkey"), col(SigCol)),
      Seq("urlkey", SigCol), "left_anti")
}
