package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.{CdxStore, Warc}

/** The accumulated CDX capture store: replay-safe appends, crash-safe
  * compaction, and site-range serving with the predicate PUSHED to the
  * parquet scan (the zone-map pruning contract). */
class CdxStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def captures(site: Int, docs: Range, day: String) =
    docs.map { i =>
      (s"com,example,h$site)/item/$i",
        s"https://h$site.example.com/item/$i", day,
        "response", "application/http", 100L + i, s"/arc/part-$site.warc.gz",
        i.toLong)
    }.toDF("urlkey", "target_uri", "warc_date", "warc_type",
      "content_type", "content_length", "path", "idx")

  test("append x2 + replay no-op + compact: one sorted file per bucket; site range serves exactly the site; filter pushed") {
    val t = "graft_cdxspec_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    val b1 = captures(1, 0 until 20, "2026-08-14T00:00:00Z")
      .unionByName(captures(2, 0 until 10, "2026-08-14T00:00:00Z"))
    val b2 = captures(1, 20 until 30, "2026-08-15T00:00:00Z")
      // null urlkey (unparseable URL): dropped, must not poison dedup
      .unionByName(Seq((null: String, "u", "d", "t", "c", 1L, "p", 0L))
        .toDF("urlkey", "target_uri", "warc_date", "warc_type",
          "content_type", "content_length", "path", "idx"))
    CdxStore.append(b1, t, buckets = 4)
    CdxStore.append(b2, t, buckets = 4)
    assert(spark.table(t).count() == 40)
    // replayed batches: anti-joined on full identity — appends nothing
    CdxStore.append(b1, t, buckets = 4)
    CdxStore.append(b2, t, buckets = 4)
    assert(spark.table(t).count() == 40)
    // site query BEFORE compaction already correct
    val site1 = CdxStore.capturesForSite(spark, t, "com,example,h1)")
    assert(site1.count() == 30)
    assert(site1.select("urlkey").as[String].collect()
      .forall(_.startsWith("com,example,h1)")))
    // the range predicate reaches the parquet scan as pushed filters
    val plan = site1.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(urlkey,com,example,h1))") &&
      plan.contains("LessThan(urlkey,com,example,h1*)"), plan)
    // compact: one file per bucket, contents unchanged, range still serves
    CdxStore.compact(spark, t, buckets = 4)
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    val parts = loc.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 4, parts.map(_.getName).toSeq)
    assert(spark.table(t).count() == 40)
    val after = CdxStore.capturesForSite(spark, t, "com,example,h2)")
    assert(after.count() == 10)
    assert(after.select("target_uri").as[String].collect()
      .forall(_.startsWith("https://h2.example.com/")))
    // a deeper prefix narrows to the subtree
    assert(CdxStore.capturesForSite(spark, t, "com,example,h1)/item/2")
      .count() == 11) // items 2 and 20..29
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("site ranges and cluster.idx lookups follow Spark's UTF-8 key order past the BMP") {
    val t = "graft_cdxutf8_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    // path marks around the UTF-16/UTF-8 order seams: U+D7FF (last
    // before the surrogates), U+E000, U+FFFD, U+FFFF, U+1F600 and
    // U+10FFFF (the last code point); as Java Strings U+1F600 and
    // U+10FFFF sort BEFORE U+E000, in Spark after U+FFFF
    val marks = Seq("\uD7FF", "\uE000", "\uFFFD", "\uFFFF", "\uD83D\uDE00", "\uDBFF\uDFFF")
    val keys = for (m <- marks; i <- 0 until 5) yield s"com,u)/$m$i"
    CdxStore.append(keys.zipWithIndex.map { case (k, i) =>
      (k, s"https://u.com/$i", "2026-08-14T00:00:00Z", "response", "application/http",
        100L + i, "/arc/part-u.warc.gz", i.toLong)
    }.toDF("urlkey", "target_uri", "warc_date", "warc_type", "content_type",
      "content_length", "path", "idx"), t, buckets = 2)
    val prefixes = "com,u)/" +: marks.map(m => s"com,u)/$m")
    def want(p: String) = keys.filter(_.startsWith(p)).sorted
    def keysOf(df: org.apache.spark.sql.DataFrame) =
      df.select("urlkey").as[String].collect().toSeq.sorted
    prefixes.foreach(p => assert(keysOf(CdxStore.capturesForSite(spark, t, p)) == want(p), p))
    // one block straddles every seam; four split the marks between them
    Seq(1, 4).foreach { blocks =>
      val dir = Files.createTempDirectory("graft-cdx-utf8").toString
      CdxStore.exportRangeLayout(spark, t, dir, blocks)
      prefixes.foreach(p =>
        assert(keysOf(CdxStore.capturesForSiteIndexed(spark, dir, p)) == want(p), s"$blocks: $p"))
      val fileOf = spark.read.parquet(s"${CdxStore.currentRoot(spark, dir)}/blocks")
        .select(col("urlkey"), input_file_name()).as[(String, String)].collect().toMap
      keys.foreach(k =>
        assert(CdxStore.blocksForKeys(spark, dir, Seq(k)) == Seq(fileOf(k)), s"$blocks: $k"))
    }
    // the end bound is the next code point; U+10FFFF carries
    assert(CdxStore.siteRangeEnd("a\uD7FF") == "a\uE000")
    assert(CdxStore.siteRangeEnd("a\uFFFF") == "a\uD800\uDC00")
    assert(CdxStore.siteRangeEnd("a\uD83D\uDE00") == "a\uD83D\uDE01")
    assert(CdxStore.siteRangeEnd("ab\uDBFF\uDFFF") == "ac")
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("cluster.idx secondary index: a site lookup touches ONLY its own blocks (IO-asserted), results == the bucketed store's range query") {
    val t = "graft_cdxzip_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    // 20 sites x 30 docs so the range layout has real key spread
    val all = (0 until 20).map(s =>
      captures(s, 0 until 30, "2026-08-14T00:00:00Z")).reduce(_ unionByName _)
    CdxStore.append(all, t, buckets = 4)
    CdxStore.compact(spark, t, buckets = 4)
    val dir = Files.createTempDirectory("graft-zipnum").toString
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 16)
    // versioned publish: the _current pointer names a complete v=N
    val root = CdxStore.currentRoot(spark, dir)
    assert(root == s"$dir/v=0", root)
    // the secondary index is block-count-sized and covers every block
    val idx = spark.read.parquet(s"$root/cluster.idx")
    val blockFiles = new java.io.File(s"$root/blocks").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(idx.count() == blockFiles.size && blockFiles.size > 4)
    // lookup through the index: exactly the bucketed store's answer
    val viaIdx = CdxStore.capturesForSiteIndexed(spark, dir, "com,example,h7)")
    val viaStore = CdxStore.capturesForSite(spark, t, "com,example,h7)")
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.select("urlkey", "target_uri", "warc_date").as[(String, String, String)]
        .collect().sorted.toSeq
    assert(keyOf(viaIdx) == keyOf(viaStore) && viaIdx.count() == 30)
    // IO assert: the scan reads exactly the index-selected blocks —
    // a contiguous few, NOT the whole layout (the listing term the
    // secondary index exists to remove)
    val selected = CdxStore.selectedBlocks(spark, dir, "com,example,h7)")
    assert(selected.nonEmpty && selected.size < blockFiles.size / 2,
      s"${selected.size} of ${blockFiles.size}")
    assert(viaIdx.inputFiles.map(f => f.substring(f.lastIndexOf('/') + 1))
      .toSet.subsetOf(selected.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet))
    // the h7-vs-h70-style boundary: range end is exclusive at ')'+1
    assert(keyOf(viaIdx).forall(_._1.startsWith("com,example,h7)")))
    // the residual range predicate reaches the selected blocks' scan
    // pushed (a block straddling the site boundary prunes row groups)
    val planIdx = viaIdx.queryExecution.executedPlan.toString
    assert(planIdx.contains("PushedFilters") &&
      planIdx.contains("GreaterThanOrEqual(urlkey,com,example,h7))") &&
      planIdx.contains("LessThan(urlkey,com,example,h7*)"), planIdx)
    // a site with no captures selects nothing and returns empty
    assert(CdxStore.selectedBlocks(spark, dir, "org,absent)").isEmpty)
    assert(CdxStore.capturesForSiteIndexed(spark, dir, "org,absent)").isEmpty)
    // REBUILD safety: a second export publishes v=1 and KEEPS v=0 (a
    // reader that resolved the old root mid-rebuild stays consistent);
    // a third sweeps v=0; lookups answer identically throughout
    val before = keyOf(viaIdx)
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 16)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=1")
    assert(new java.io.File(s"$dir/v=0").exists()) // grandfathered
    assert(keyOf(CdxStore.capturesForSiteIndexed(spark, dir,
      "com,example,h7)")) == before)
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 16)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=2")
    assert(!new java.io.File(s"$dir/v=0").exists()) // swept
    assert(new java.io.File(s"$dir/v=1").exists())
    assert(keyOf(CdxStore.capturesForSiteIndexed(spark, dir,
      "com,example,h7)")) == before)
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("range-layout sweep keys on the _current pointer: a crashed rebuild's partial is GC'd, the readers' version survives") {
    val t = "graft_cdxswp_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    val all = (0 until 6).map(s =>
      captures(s, 0 until 10, "2026-08-14T00:00:00Z")).reduce(_ unionByName _)
    CdxStore.append(all, t, buckets = 4)
    val dir = Files.createTempDirectory("graft-zipswp").toString
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 4) // v=0
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 4) // v=1, keeps v=0
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=1")
    // a rebuild that CRASHED before the pointer swap: partial v=2 on
    // disk, pointer still on v=1
    val partial = new java.io.File(s"$dir/v=2/blocks")
    assert(partial.mkdirs())
    java.nio.file.Files.write(new java.io.File(partial, "junk").toPath,
      "partial".getBytes("UTF-8"))
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=1")
    // next successful publish: v=3; the sweep must key on what readers
    // RESOLVED (v=1 stays one full cycle) and GC the unpublished
    // partial — sweeping by version number would instead delete v=1,
    // the version readers are mid-scan over, and retain useless v=2
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 4)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=3")
    assert(new java.io.File(s"$dir/v=1").exists(), "readers' version swept!")
    assert(!new java.io.File(s"$dir/v=2").exists(), "crashed partial retained")
    assert(!new java.io.File(s"$dir/v=0").exists())
    assert(CdxStore.capturesForSiteIndexed(spark, dir, "com,example,h3)")
      .count() == 10)
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("incremental range-layout refresh: rewrites ONLY intersected blocks, reuses untouched files in place, lookups unchanged, reused versions survive the sweep") {
    val t = "graft_cdxinc_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    val all = (0 until 20).map(s =>
      captures(s, 0 until 30, "2026-08-14T00:00:00Z")).reduce(_ unionByName _)
    CdxStore.append(all, t, buckets = 4)
    CdxStore.compact(spark, t, buckets = 4)
    val dir = Files.createTempDirectory("graft-zipinc").toString
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 16) // v=0
    val idx0 = spark.read.parquet(s"$dir/v=0/cluster.idx")
      .select("file", "k_min").as[(String, String)].collect().sortBy(_._2)
    assert(idx0.length > 4)
    // a small append touching ONE site's key range
    val delta = captures(7, 30 until 36, "2026-08-15T00:00:00Z")
    CdxStore.append(delta, t, buckets = 4)
    CdxStore.refreshRangeLayout(spark, t, dir, delta, blocks = 16)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=1")
    val idx1 = spark.read.parquet(s"$dir/v=1/cluster.idx")
      .select("file", "k_min").as[(String, String)].collect().sortBy(_._2)
    assert(idx1.length == idx0.length) // block count preserved
    // rewrites <= affected blocks: the delta's keys share one site
    // prefix, so at most 2 blocks intersect; every other entry is the
    // SAME FILE (identity, not a copy) from v=0
    val rewrittenFiles = idx1.map(_._1).filterNot(idx0.map(_._1).toSet)
    assert(rewrittenFiles.nonEmpty && rewrittenFiles.length <= 2,
      rewrittenFiles.toSeq)
    assert(rewrittenFiles.forall(_.contains("/v=1/")), rewrittenFiles.toSeq)
    val reused = idx1.map(_._1).filter(idx0.map(_._1).toSet)
    assert(reused.length == idx0.length - rewrittenFiles.length)
    assert(reused.forall(_.contains("/v=0/")))
    // lookups unchanged: the refreshed site serves old + new captures,
    // an untouched site serves identically, both == the bucketed store
    def keyOf(df: org.apache.spark.sql.DataFrame) =
      df.select("urlkey", "warc_date").as[(String, String)].collect().sorted.toSeq
    assert(keyOf(CdxStore.capturesForSiteIndexed(spark, dir, "com,example,h7)"))
      == keyOf(CdxStore.capturesForSite(spark, t, "com,example,h7)")))
    assert(CdxStore.capturesForSiteIndexed(spark, dir, "com,example,h7)")
      .count() == 36)
    assert(keyOf(CdxStore.capturesForSiteIndexed(spark, dir, "com,example,h3)"))
      == keyOf(CdxStore.capturesForSite(spark, t, "com,example,h3)")))
    // an empty delta publishes nothing
    CdxStore.refreshRangeLayout(spark, t, dir, delta.limit(0), blocks = 16)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=1")
    // sweep honors file reuse: a FULL export (v=2) keeps v=1 (previous
    // published) AND v=0 (v=1's index references its files); the next
    // full export (v=3) releases both
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 16)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=2")
    assert(new java.io.File(s"$dir/v=1").exists())
    assert(new java.io.File(s"$dir/v=0").exists(), "reused version swept!")
    assert(keyOf(CdxStore.capturesForSiteIndexed(spark, dir, "com,example,h7)"))
      == keyOf(CdxStore.capturesForSite(spark, t, "com,example,h7)")))
    CdxStore.exportRangeLayout(spark, t, dir, blocks = 16)
    assert(CdxStore.currentRoot(spark, dir) == s"$dir/v=3")
    assert(!new java.io.File(s"$dir/v=0").exists())
    assert(!new java.io.File(s"$dir/v=1").exists())
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("sidecarMaintenance(cdxTable): batches fold into the store, compaction cadence fires, replay no-op; latestCaptures composes") {
    val mk = (uri: String, body: String) => {
      val payload = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
      val pb = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: 2026-08-15T00:00:00Z\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${pb.length}\r\n\r\n").getBytes("UTF-8") ++ pb ++
        "\r\n\r\n".getBytes("UTF-8")
    }
    val warcDir = Files.createTempDirectory("graft-cdxt").toString
    val outDir = Files.createTempDirectory("graft-cdxt-out").toString
    val ckDir = Files.createTempDirectory("graft-cdxt-ck").toString
    val t = "graft_cdxmaint_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    def gz(path: String, recs: Array[Byte]*): Unit = {
      val f = new java.io.FileOutputStream(path)
      val w = new Warc.MemberGzipWriter(f)
      try recs.foreach(w.writeMember) finally { w.end(); f.close() }
    }
    val rlDir = Files.createTempDirectory("graft-cdxt-rl").toString
    def runOnce(): Unit = graft.streaming.DocumentIngest.sidecarMaintenance(
      spark, warcDir + "/*.warc.gz", outDir, ckDir,
      cdxTable = Some(t), buckets = 4, compactEvery = Some(1),
      rangeLayoutDir = Some(rlDir))
    gz(s"$warcDir/d1.warc.gz",
      mk("https://cx.example/a", "<p>alpha body text long enough</p>"),
      mk("https://cx.example/b", "<p>beta body text long enough</p>"))
    runOnce()
    // first batch publishes the FULL layout; the indexed lookup agrees
    // with the store already
    assert(CdxStore.currentRoot(spark, rlDir) == s"$rlDir/v=0")
    assert(CdxStore.capturesForSiteIndexed(spark, rlDir, "example,cx)")
      .count() == 2)
    gz(s"$warcDir/d2.warc.gz",
      mk("https://cx.example/c", "<p>gamma body text long enough</p>"))
    runOnce()
    // no per-batch cdx dirs in store mode; the table carries all rows
    assert(!new java.io.File(s"$outDir/cdx").exists())
    val stored = spark.table(t)
    assert(stored.count() == 3)
    val site = CdxStore.capturesForSite(spark, t, "example,cx)")
    assert(site.select("target_uri").as[String].collect().sorted.toSeq ==
      Seq("https://cx.example/a", "https://cx.example/b", "https://cx.example/c"))
    // the second batch REFRESHED the layout incrementally (a new
    // version was published) and the indexed lookup tracks the store
    assert(CdxStore.currentRoot(spark, rlDir) == s"$rlDir/v=1")
    assert(CdxStore.capturesForSiteIndexed(spark, rlDir, "example,cx)")
      .select("target_uri").as[String].collect().sorted.toSeq ==
      site.select("target_uri").as[String].collect().sorted.toSeq)
    // replay with no new files: nothing re-appends, layout untouched
    runOnce()
    assert(spark.table(t).count() == 3)
    assert(CdxStore.currentRoot(spark, rlDir) == s"$rlDir/v=1")
    assert(CdxStore.capturesForSiteIndexed(spark, rlDir, "example,cx)")
      .count() == 3)
    // WET/WAT sidecars still per batch
    val wetBatches = new java.io.File(s"$outDir/wet").listFiles()
      .count(_.getName.startsWith("batch_id="))
    assert(wetBatches == 2)
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("append's anti-join shuffles ONLY the batch: one Exchange, store scan stays in bucket layout") {
    val t = "graft_cdxplan_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    CdxStore.append(captures(1, 0 until 40, "2026-08-14T00:00:00Z"), t, buckets = 4)
    // at fixture scale AQE broadcasts the tiny store — the 100-TB
    // question is the LARGE-store plan, so pin the no-broadcast shape:
    // exactly ONE shuffle (the batch side); the stored scan's bucket
    // layout (urlkey) is reused as the join distribution, so an append
    // never re-shuffles the accumulated index
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val delta = CdxStore.freshAgainstStore(
        CdxStore.withSig(captures(1, 30 until 60, "2026-08-14T00:00:00Z")), t)
      // correctness: only the 20 genuinely new rows are fresh
      assert(delta.count() == 20)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      def exchanges(p: SparkPlan): Int = p match {
        case _: ShuffleExchangeLike => 1 + p.children.map(exchanges).sum
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case q: QueryStageExec => exchanges(q.plan)
        case other => other.children.map(exchanges).sum
      }
      val n = exchanges(delta.queryExecution.executedPlan)
      assert(n == 1, s"$n exchanges:\n${delta.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    graft.store.Bucketing.dropWithLocation(spark, t)
  }

  test("dedupArchiveMaintenance: streaming re-archive dedups cross-batch, store serves revisit-resolved, replay no-op") {
    val mk = (uri: String, day: String, body: String) => {
      val payload = s"HTTP/1.1 200 OK\r\n\r\n$body"
      val pb = payload.getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: $day\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${pb.length}\r\n\r\n").getBytes("UTF-8") ++ pb ++
        "\r\n\r\n".getBytes("UTF-8")
    }
    val warcDir = Files.createTempDirectory("graft-ddm").toString
    val outDir = Files.createTempDirectory("graft-ddm-out").toString
    val ckDir = Files.createTempDirectory("graft-ddm-ck").toString
    val dg = "graft_ddm_dg_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    val cx = "graft_ddm_cx_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    Seq(dg, cx).foreach(graft.store.Bucketing.dropWithLocation(spark, _))
    def gz(path: String, recs: Array[Byte]*): Unit = {
      val f = new java.io.FileOutputStream(path)
      val w = new Warc.MemberGzipWriter(f)
      try recs.foreach(w.writeMember) finally { w.end(); f.close() }
    }
    def runOnce(): Unit = graft.streaming.DocumentIngest.dedupArchiveMaintenance(
      spark, warcDir + "/*.warc.gz", outDir, ckDir, dg, cx,
      buckets = 4, compactEvery = Some(2),
      // the r18 source knobs forwarded end-to-end: one file per batch
      // and a 2-batch log compaction cadence — asserted on the
      // checkpoint's own log directory below
      maxFilesPerTrigger = Some(1), logCompactInterval = Some(2))
    gz(s"$warcDir/d1.warc.gz",
      mk("https://dd.example.com/a", "2026-08-14T00:00:00Z", "body a"),
      mk("https://dd.example.com/b", "2026-08-14T00:00:00Z", "body b"))
    runOnce()
    // batch 2: /a recaptured UNCHANGED + /c new
    gz(s"$warcDir/d2.warc.gz",
      mk("https://dd.example.com/a", "2026-08-15T00:00:00Z", "body a"),
      mk("https://dd.example.com/c", "2026-08-15T00:00:00Z", "body c"))
    runOnce()
    // batch 2's archive: /a is a payload-free CROSS-BATCH revisit
    val b1 = Warc.readDeduped(spark, outDir + "/warc/batch_id=1/*.warc.gz")
      .collect().map(r => r.getAs[String]("target_uri") ->
        (r.getAs[String]("warc_type"), r.getAs[Array[Byte]]("payload").length))
      .toMap
    assert(b1("https://dd.example.com/a")._1 == "revisit" &&
      b1("https://dd.example.com/a")._2 == 0, b1)
    assert(b1("https://dd.example.com/c")._1 == "response")
    // the store serves the site revisit-resolved
    val got = CdxStore.serveLatestCaptures(spark, cx, "com,example,dd)")
      .select(col("url"), col("warc_date"),
        Warc.httpBody(col("payload")).as("body"), col("was_revisit"))
      .as[(String, String, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      "https://dd.example.com/a" -> (("2026-08-15T00:00:00Z", "body a", true)),
      "https://dd.example.com/b" -> (("2026-08-14T00:00:00Z", "body b", false)),
      "https://dd.example.com/c" -> (("2026-08-15T00:00:00Z", "body c", false))), got)
    // replay with no new files: store counts unchanged
    val (dgN, cxN) = (spark.table(dg).count(), spark.table(cx).count())
    runOnce()
    assert(spark.table(dg).count() == dgN && spark.table(cx).count() == cxN)
    // the forwarded logCompactInterval reached the source: batch 1 (the
    // 2nd batch) compacted the file log — one snapshot, no delta 0/1
    val logNames = new java.io.File(s"$ckDir/sources/0/warc-file-log")
      .listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(logNames == Seq("1.compact"), logNames)
    Seq(dg, cx).foreach(graft.store.Bucketing.dropWithLocation(spark, _))
  }

  test("serveLatestCaptures: cross-site revisit resolves via the out-of-range lookup, IN-list and join fallback agree") {
    val arc = Files.createTempDirectory("graft-cdxsrv").toString
    val t = "graft_cdxsrv_" + Integer.toHexString(
      java.util.UUID.randomUUID().hashCode())
    graft.store.Bucketing.dropWithLocation(spark, t)
    // site a: /x captured day1, re-captured UNCHANGED day2 (in-site
    // revisit); site mirror: same bytes as a's /y (cross-site revisit)
    val rows = Seq(
      ("https://a.example.com/x", "2026-08-14T00:00:00Z", "HTTP/1.1 200 OK\r\n\r\nbody x"),
      ("https://a.example.com/x", "2026-08-15T00:00:00Z", "HTTP/1.1 200 OK\r\n\r\nbody x"),
      ("https://a.example.com/y", "2026-08-14T00:00:00Z", "HTTP/1.1 200 OK\r\n\r\nbody y"),
      ("https://mirror.example.com/y", "2026-08-15T00:00:00Z", "HTTP/1.1 200 OK\r\n\r\nbody y"))
      .toDF("uri", "ts", "payload")
    val idx = Warc.writeRecordsDedupedIndexed(rows.repartition(2),
        "uri", "ts", "payload", arc).toDF()
      .withColumn("urlkey", graft.ext.UrlOps.surtKey(col("target_uri")))
    CdxStore.append(idx, t, buckets = 2)
    def served(prefix: String, maxRefKeys: Int): Map[String, (String, String, Boolean)] =
      CdxStore.serveLatestCaptures(spark, t, prefix, maxRefKeys = maxRefKeys)
        .select(col("url"), col("warc_date"),
          Warc.httpBody(col("payload")).as("body"), col("was_revisit"))
        .as[(String, String, String, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // site a: /x's winner is the in-site day-2 revisit, /y the response
    val a = served("com,example,a)", 10000)
    assert(a == Map(
      "https://a.example.com/x" -> (("2026-08-15T00:00:00Z", "body x", true)),
      "https://a.example.com/y" -> (("2026-08-14T00:00:00Z", "body y", false))), a)
    // mirror site: its only capture is a CROSS-SITE revisit of a)/y —
    // the original lives outside the slice and fetches via the pushed
    // IN lookup
    val m = served("com,example,mirror)", 10000)
    assert(m == Map(
      "https://mirror.example.com/y" ->
        (("2026-08-15T00:00:00Z", "body y", true))), m)
    // the join fallback (maxRefKeys = 0) serves identically
    assert(served("com,example,mirror)", 0) == m)
    // AS-OF serving (the wayback shape): at day 1 the /x revisit does
    // not exist yet — the day-1 response wins instead
    val asOf = CdxStore.serveLatestCaptures(spark, t, "com,example,a)",
        Some("2026-08-14T23:59:59Z"), normalize = true, maxRefKeys = 10000)
      .select(col("url"), col("warc_date"),
        Warc.httpBody(col("payload")).as("body"), col("was_revisit"))
      .as[(String, String, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(asOf == Map(
      "https://a.example.com/x" -> (("2026-08-14T00:00:00Z", "body x", false)),
      "https://a.example.com/y" -> (("2026-08-14T00:00:00Z", "body y", false))), asOf)
    // the ZIPNUM path serves identically on every cut: HEAD, the as-of
    // cut, and the cross-site-revisit site (its referred original
    // routes through blocksForKeys), each == the bucketed store's
    val rl = Files.createTempDirectory("graft-cdxsrv-rl").toString
    CdxStore.exportRangeLayout(spark, t, rl, blocks = 8)
    def servedIdx(prefix: String, asOfCut: Option[String],
        maxRefKeys: Int = 10000): Map[String, (String, String, Boolean)] =
      CdxStore.serveLatestCapturesIndexed(spark, rl, prefix, asOfCut,
          normalize = true, maxRefKeys = maxRefKeys)
        .select(col("url"), col("warc_date"),
          Warc.httpBody(col("payload")).as("body"), col("was_revisit"))
        .as[(String, String, String, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(servedIdx("com,example,a)", None) == a)
    assert(servedIdx("com,example,mirror)", None) == m)
    assert(servedIdx("com,example,a)", Some("2026-08-14T23:59:59Z")) == asOf)
    // the >maxRefKeys semi-join fallback resolves through the SAME
    // versioned root (regression: it used to read the unversioned
    // $dir/blocks and threw on a published layout)
    assert(servedIdx("com,example,mirror)", None, maxRefKeys = 0) == m)
    graft.store.Bucketing.dropWithLocation(spark, t)
  }
}
