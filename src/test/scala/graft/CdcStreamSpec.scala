package graft

import org.apache.spark.sql.streaming.StreamingQueryException

import graft.cdc.{CdcApply, CdcStream}
import graft.gen.{ChangeGen, GenConfig, GenEvent}
import graft.lake.LakeTable

class CdcStreamSpec extends SparkSpec {

  val cfg = GenConfig(events = 6000, segmentSize = 512)
  lazy val golden = expectedMap(ChangeGen.events(spark, cfg).collect().toSeq)

  test("streaming WAL tail drains to the golden final state") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    ChangeGen.writeWal(spark, cfg, wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    val batches = CdcStream.runToCompletion(spark, wal, table, ckpt,
      maxFilesPerTrigger = 6, createBuckets = 16)
    assert(batches > 2, s"want multiple micro-batches, got $batches")
    assert(pagesMap(table.pages()) == golden)
    // lineage was recorded per batch with the source lsn range
    val lin = table.currentSnapshot.get.lineage
    assert(lin.nonEmpty && lin.forall(_.queryId == "cdc"))
    assert(lin.map(_.events).sum >= cfg.events)
  }

  test("start without a mode writes L0 spanning files until a compaction") {
    val small = GenConfig(events = 1000, segmentSize = 250)
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    ChangeGen.writeWal(spark, small, wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    CdcStream.start(spark, wal, table, ckpt, maxFilesPerTrigger = 2, createBuckets = 4)
      .awaitTermination()
    val snap = table.currentSnapshot.get
    assert(snap.files.nonEmpty && snap.files.forall(_.bucket < 0),
      s"buckets ${snap.files.map(_.bucket).distinct}")
    assert(pagesMap(table.pages()) == expectedMap(ChangeGen.events(spark, small).collect().toSeq))
  }

  test("the removed cow and mor modes are rejected by name before any query starts") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    ChangeGen.writeWal(spark, GenConfig(events = 500, segmentSize = 250), wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    Seq("cow", "mor", "morraw").foreach { m =>
      val e = intercept[IllegalArgumentException](
        CdcStream.start(spark, wal, table, ckpt, queryId = s"gone-$m", mode = m))
      assert(e.getMessage.contains(s"'$m'"), e.getMessage)
    }
    // audited ingest names the one append mode it accepts
    val audited = intercept[IllegalArgumentException](
      CdcStream.start(spark, wal, table, ckpt, queryId = "gone-audit", mode = "morraw",
        audit = Some((_, _) => true), quarantineDir = Some(tmpDir("quar"))))
    assert(audited.getMessage.contains("'morraw'"), audited.getMessage)
    assert(spark.streams.active.forall(q => !q.name.startsWith("gone-")))
    assert(table.currentSnapshot.isEmpty)
    assert(new java.io.File(ckpt).list().isEmpty)
  }

  test("one table switches l0 → compact → dv → l0 on one stream checkpoint") {
    import spark.implicits._
    val staging = tmpDir("wal"); val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    ChangeGen.writeWal(spark, GenConfig(events = 3000, segmentSize = 250), staging)
    val parts = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assert(parts.length >= 8, s"want at least 8 WAL files, got ${parts.length}")
    val delivered = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    def deliver(files: Seq[java.io.File]): Unit = files.foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(wal, f.getName))
      delivered += f
    }
    def goldenSoFar = expectedMap(spark.read.parquet(delivered.map(_.getPath).toSeq: _*)
      .as[GenEvent].collect().toSeq)
    val table = new LakeTable(spark, tmpDir("lake"))
    def run(mode: String, filesPerTrigger: Int = 1, autoCompact: Int = 0): Unit =
      CdcStream.start(spark, wal, table, ckpt, queryId = "mt", mode = mode,
        maxFilesPerTrigger = filesPerTrigger, createBuckets = 4,
        autoCompactFilesPerBucket = autoCompact)
        .awaitTermination()
    def dvRefusal(): String = intercept[IllegalArgumentException](
      CdcApply.applyBatchDv(table, spark.read.parquet(parts.head.getPath), "probe", 0L))
      .getMessage

    // write leg: l0 appends, auto-compaction flushing the L0 group as it grows
    deliver(parts.take(5).toSeq)
    run("l0", autoCompact = 3)
    val afterL0 = table.currentSnapshot.get
    assert(afterL0.files.exists(_.bucket >= 0), "auto-compaction never flushed the L0 group")
    assert(afterL0.files.exists(_.bucket < 0), "precondition: the last l0 batch left L0 files")
    assert(table.needsResolve(afterL0))
    assert(dvRefusal().contains("un-flushed L0 spanning files"))

    // handoff: one full compaction, then the same checkpoint resumes as dv
    table.compact()
    deliver(parts.slice(5, parts.length - 1).toSeq)
    run("dv", filesPerTrigger = 3)
    val afterDv = table.currentSnapshot.get
    assert(pagesMap(table.pages()) == goldenSoFar)
    assert(!table.needsResolve(afterDv))
    assert(afterDv.files.nonEmpty && afterDv.files.forall(_.bucket >= 0))
    assert(afterDv.dvFiles.nonEmpty, "the dv leg masked no committed row")

    // and back: one more l0 batch makes the table multi-version again
    deliver(Seq(parts.last))
    run("l0")
    val back = table.currentSnapshot.get
    assert(table.needsResolve(back) && back.files.exists(_.bucket < 0))
    assert(dvRefusal().contains("un-flushed L0 spanning files"))
    assert(pagesMap(table.pages()) == goldenSoFar)
  }

  /** The WAL files of `cfg`, written to a staging dir, in name order. */
  private def stagedWal(cfg: GenConfig): Seq[java.io.File] = {
    val staging = tmpDir("wal")
    ChangeGen.writeWal(spark, cfg, staging)
    new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq
  }

  private def consolidated(s: graft.lake.Snapshot): Boolean =
    s.manifests.nonEmpty && s.manifests.forall(LakeTable.isConsolidatedPart)

  /** The writer's in-memory snapshot against a fresh handle's fold of the
    * head's manifests, entry by entry. */
  private def assertFreshRead(table: LakeTable): graft.lake.Snapshot = {
    val writer = table.lastKnownSnapshot.get
    assert(table.headVersion.contains(writer.version))
    val fresh = new LakeTable(spark, table.root).snapshotAt(writer.version)
    assert(fresh.files.size == writer.files.size)
    assert(fresh.files.map(f => f.path -> f).toMap == writer.files.map(f => f.path -> f).toMap)
    writer
  }

  test("an l0 stream carries its bucketed part through two consolidations") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val parts = stagedWal(GenConfig(events = 4000, segmentSize = 200))
    assert(parts.length >= 16, s"want at least 16 WAL files, got ${parts.length}")
    def deliver(files: Seq[java.io.File]): Unit = files.foreach(f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(wal, f.getName)))
    val table = new LakeTable(spark, tmpDir("lake"))
    table.consolidateEvery = 4
    val snaps = scala.collection.mutable.ArrayBuffer.empty[graft.lake.Snapshot]
    def run(): Unit =
      CdcStream.start(spark, wal, table, ckpt, queryId = "carry", maxFilesPerTrigger = 1,
        createBuckets = 4, onBatch = _ => snaps += assertFreshRead(table))
        .awaitTermination()
    deliver(parts.take(2))
    run()
    // the bucketed part comes from a full compaction; from then on the
    // stream appends L0 files only
    snaps += table.compact()
    deliver(parts.drop(2))
    run()
    val cons = snaps.toSeq.filter(consolidated)
    val carried = cons.last.manifests.find(LakeTable.isBucketedPart)
    assert(carried.isDefined, cons.last.manifests)
    val sharing = cons.filter(_.manifests.contains(carried.get))
    assert(sharing.size >= 3,
      s"the bucketed part must survive two consolidations: ${cons.map(_.manifests)}")
    assert(sharing.map(_.manifests.filterNot(LakeTable.isBucketedPart)).distinct.size ==
      sharing.size, "each consolidation rewrites the L0 part")
    assert(pagesMap(new LakeTable(spark, table.root).pages()) ==
      expectedMap(ChangeGen.events(spark, GenConfig(events = 4000, segmentSize = 200))
        .collect().toSeq))
  }

  test("an l0 window whose compaction empties the table rewrites the bucketed part") {
    import spark.implicits._
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val table = new LakeTable(spark, tmpDir("lake"))
    table.consolidateEvery = 4
    val delivered = scala.collection.mutable.ArrayBuffer.empty[GenEvent]
    var lsn = 0L
    def page(url: String): GenEvent = {
      lsn += 1
      GenEvent("I", lsn, 0, url, new java.sql.Timestamp(lsn * 1000),
        s"<p>$url</p>".getBytes("UTF-8"), s"text $url", "en", lsn)
    }
    def tombstone(url: String): GenEvent = {
      lsn += 1
      GenEvent("D", lsn, 0, url, new java.sql.Timestamp(lsn * 1000), null, null, null, lsn)
    }
    // one WAL file per call, so each run below commits one batch per file
    def deliver(events: Seq[GenEvent]): Unit = {
      val stage = tmpDir("stage")
      events.toDS().coalesce(1).write.mode("overwrite").parquet(stage)
      val file = new java.io.File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(file.toPath,
        java.nio.file.Paths.get(wal, f"w-${delivered.size}%06d.parquet"))
      delivered ++= events
    }
    def urls(from: Int) = (from until from + 50).map(i => s"http://carry.test/$i")
    val snaps = scala.collection.mutable.ArrayBuffer.empty[graft.lake.Snapshot]
    def run(): Unit =
      CdcStream.start(spark, wal, table, ckpt, queryId = "empty", maxFilesPerTrigger = 1,
        createBuckets = 4, onBatch = _ => snaps += assertFreshRead(table)).awaitTermination()
    def lww = expectedMap(delivered.toSeq)

    // a bucketed base, then L0 batches until a consolidation holds its part
    deliver(urls(0).map(page)); deliver(urls(50).map(page))
    run()
    table.compact()
    var next = 100
    while (!table.currentSnapshot.get.manifests.exists(LakeTable.isBucketedPart)) {
      deliver(urls(next).map(page)); next += 50
      run()
    }
    // delete every page; the tombstone-GC compaction then removes every file
    // and adds none: a window with a removal but no bucketed append
    deliver(delivered.toSeq.map(_.url).distinct.map(tombstone))
    run()
    val emptied = table.compact(gcTombstonesBelowLsn = Some(lsn + 1))
    assert(emptied.files.isEmpty)
    assertFreshRead(table)
    // L0 batches through the next consolidation: the old bucketed part must
    // not come back
    snaps.clear()
    (0 until 4).foreach { _ => deliver(urls(next).map(page)); next += 50 }
    run()
    val folded = snaps.toSeq.dropWhile(s => !consolidated(s))
    assert(folded.nonEmpty, snaps.map(_.manifests))
    assert(!folded.exists(_.manifests.exists(LakeTable.isBucketedPart)), folded.map(_.manifests))
    assert(pagesMap(new LakeTable(spark, table.root).pages()) == lww)
  }

  test("a dv stream with auto-compaction re-reads its snapshot file for file") {
    import spark.implicits._
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val parts = stagedWal(GenConfig(events = 3000, segmentSize = 250))
    val table = new LakeTable(spark, tmpDir("lake"))
    table.consolidateEvery = 4
    val delivered = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
    var consolidations = 0
    var partialCompactions = 0
    var prev = Set.empty[String]
    var prevParts = Set.empty[String]
    // one WAL file per run, so the table after each run holds exactly the
    // delivered files' changes
    parts.foreach { f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(wal, f.getName))
      delivered += f
      CdcStream.start(spark, wal, table, ckpt, queryId = "dvre", mode = "dv",
        createBuckets = 4, autoCompactFilesPerBucket = 2).awaitTermination()
      val snap = assertFreshRead(table)
      val ps = snap.manifests.filter(LakeTable.isConsolidatedPart).toSet
      if (ps.nonEmpty && ps != prevParts) consolidations += 1
      prevParts = ps
      val paths = snap.files.map(_.path).toSet
      if ((prev -- paths).nonEmpty && (prev intersect paths).nonEmpty) partialCompactions += 1
      prev = paths
      val lww = expectedMap(spark.read.parquet(delivered.map(_.getPath).toSeq: _*)
        .as[GenEvent].collect().toSeq)
      assert(pagesMap(new LakeTable(spark, table.root).pages()) == lww,
        s"after ${delivered.size} WAL files")
    }
    assert(consolidations >= 1 && partialCompactions >= 1,
      s"consolidations $consolidations, partial compactions $partialCompactions")
  }

  test("WAP run identity lives IN the checkpoint: resume keeps it, wipe mints anew") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt"); val quar = tmpDir("quar")
    ChangeGen.writeWal(spark, GenConfig(events = 1000, segmentSize = 500), wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    def run(): Unit =
      CdcStream.start(spark, wal, table, ckpt, queryId = "rid", mode = "l0",
        maxFilesPerTrigger = 4, createBuckets = 4,
        audit = Some((_, _) => true), quarantineDir = Some(quar))
        .awaitTermination()
    def marker(): String =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$ckpt/graft-run-id")), "UTF-8").trim
    run()
    val id1 = marker()
    assert(id1.matches("[0-9a-f-]{8}"))
    run() // resume over the same checkpoint: identity must not change
    assert(marker() == id1)
    // wiping the checkpoint mints a FRESH identity — a wiped run's stale
    // stages can never alias the new run's batch numbering
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    run()
    assert(marker() != id1)
  }

  test("a blank run-id marker is replaced by a fresh claim; the audited stream resumes") {
    val staging = tmpDir("wal"); val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    val quar = tmpDir("quar")
    val small = GenConfig(events = 2000, segmentSize = 250)
    ChangeGen.writeWal(spark, small, staging)
    val parts = new java.io.File(staging).listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    def deliver(files: Seq[java.io.File]): Unit = files.foreach(f =>
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(wal, f.getName)))
    val table = new LakeTable(spark, tmpDir("lake"))
    def run(): Unit =
      CdcStream.start(spark, wal, table, ckpt, queryId = "blank", mode = "l0",
        maxFilesPerTrigger = 2, createBuckets = 4,
        audit = Some((_, _) => true), quarantineDir = Some(quar))
        .awaitTermination()
    val marker = java.nio.file.Paths.get(ckpt, "graft-run-id")
    deliver(parts.take(parts.length / 2))
    run()
    // the artifact an older create-then-write claim left after a crash
    java.nio.file.Files.write(marker, Array.emptyByteArray)
    deliver(parts.drop(parts.length / 2))
    run() // resumes over the checkpoint: must heal, not throw
    val id = new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
    assert(id.matches("[0-9a-f-]{8}"))
    assert(table.stagedIds.isEmpty)
    assert(pagesMap(table.pages()) ==
      expectedMap(ChangeGen.events(spark, small).collect().toSeq))
  }

  test("audited ingest: rejected batch is quarantined, the rest publish and converge") {
    import org.apache.spark.sql.functions.col
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt"); val quar = tmpDir("quar")
    ChangeGen.writeWal(spark, cfg, wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    var audited = 0
    val reported = scala.collection.mutable.ArrayBuffer.empty[graft.cdc.ApplyStats]
    val q = CdcStream.start(spark, wal, table, ckpt, queryId = "aud",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "l0",
      audit = Some { (pages, stats) =>
        audited += 1
        // the gate sees the staged state (base + this batch only): reject
        // batch 1, accept the rest
        assert(pages.columns.contains("url"))
        stats.batchId != 1L
      },
      quarantineDir = Some(quar),
      onBatch = reported += _)
    q.awaitTermination()
    assert(audited > 2)
    // onBatch distinguishes outcomes: the rejected batch is flagged, the
    // published ones carry their PUBLISHED (post-stage) versions
    assert(reported.count(_.quarantined) == 1 &&
      reported.find(_.quarantined).get.batchId == 1L)
    val published = reported.filter(s => !s.quarantined && s.events > 0)
    assert(published.forall(s => table.versionExists(s.version)))
    // quarantine holds exactly the rejected batch's raw events; its WAL
    // segments identify which DELIVERIES were dropped (an at-least-once
    // duplicate of the same event arriving in another batch still applies).
    // The record is scoped like the WAP id (<queryId>-b<batch>-<runTag>) so
    // two streams or re-started runs sharing a dir can't clobber each other.
    val quarDirs = new java.io.File(quar).listFiles().map(_.getName)
    assert(quarDirs.length == 1 && quarDirs.head.matches("aud-b1-[0-9a-f-]{8}"),
      quarDirs.toSeq.toString)
    val quarSegs = spark.read.parquet(s"$quar/${quarDirs.head}")
      .select("seg").distinct().collect().map(_.getLong(0)).toSet
    assert(quarSegs.nonEmpty)
    assert(table.stagedIds.isEmpty, "no stage left pending")
    // final state = LWW over every delivery EXCEPT the quarantined segments
    val allEvents = ChangeGen.events(spark, cfg).collect().toSeq
    val expected = expectedMap(allEvents.filterNot(e => quarSegs.contains(e.seg)))
    assert(pagesMap(table.pages()) == expected)
    // the quarantined batch never advanced the watermark, later ones did
    val lin = table.lineageLog.filter(_.queryId == "aud")
    assert(!lin.exists(_.batchId == 1L) && lin.exists(_.batchId >= 2L))
    // a resumed run is a no-op: nothing re-applies, state unchanged
    val q2 = CdcStream.start(spark, wal, table, ckpt, queryId = "aud",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "l0",
      audit = Some((_, _) => true), quarantineDir = Some(quar))
    q2.awaitTermination()
    assert(pagesMap(table.pages()) == expected)
  }

  test("everything on: audited ingest + auto-compaction + expiry + pinned follower") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt"); val quar = tmpDir("quar")
    ChangeGen.writeWal(spark, cfg, wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    // downstream replica maintained by the changelog follower, polled
    // between batches while maintenance (compaction + expiry) runs inline
    var cursor = 0L
    var replica = Map.empty[String, String]
    def poll(): Unit =
      cursor = CdcStream.followChanges(table, cursor, pinTag = Some("f")) { (df, from, _) =>
        val rows = df.collect()
        if (from < 0)
          replica = rows.map(r => r.getAs[String]("url") -> r.getAs[String]("text")).toMap
        else rows.foreach { r =>
          val u = r.getAs[String]("url")
          if (r.getAs[String]("change_type") == "delete") replica -= u
          else replica += u -> r.getAs[String]("text")
        }
      }
    val q = CdcStream.start(spark, wal, table, ckpt, queryId = "all",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "l0",
      autoCompactFilesPerBucket = 2, expireKeepLast = 2,
      audit = Some((_, _) => true), quarantineDir = Some(quar),
      onBatch = _ => poll())
    q.awaitTermination()
    poll() // drain the final head
    assert(table.stagedIds.isEmpty, "no stage left pending")
    assert(pagesMap(table.pages()) == golden)
    assert(replica == golden.map { case (u, (t, _, _, _)) => u -> t },
      "the follower's replica must converge through compactions and expiry")
    // auto-compaction bounded the per-bucket delta file count
    val worst = table.currentSnapshot.get.files
      .groupBy(_.bucket).values.map(_.size).max
    assert(worst <= 3, s"auto-compaction bound violated: $worst files in a bucket")
  }

  test("audited ingest: crash mid-audit resumes at the gate with the batch's real stats") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt"); val quar = tmpDir("quar")
    ChangeGen.writeWal(spark, cfg, wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    // run 1: crash INSIDE the audit of batch 1 — after its stage landed,
    // before publish/drop (the pending-stage crash window)
    val q1 = CdcStream.start(spark, wal, table, ckpt, queryId = "ac",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "l0",
      audit = Some { (_, stats) =>
        if (stats.batchId == 1L) throw new RuntimeException("injected crash")
        true
      }, quarantineDir = Some(quar))
    intercept[StreamingQueryException](q1.awaitTermination())
    assert(table.stagedIds.nonEmpty, "the crashed batch's stage must be pending")
    // run 2 (same checkpoint): batch 1 replays, the apply skips onto the
    // pending stage, and the gate must see the batch's REAL counts (not the
    // zeroed skip stats) before publishing
    val resumed = scala.collection.mutable.ArrayBuffer.empty[graft.cdc.ApplyStats]
    val q2 = CdcStream.start(spark, wal, table, ckpt, queryId = "ac",
      maxFilesPerTrigger = 4, createBuckets = 16, mode = "l0",
      audit = Some { (_, stats) =>
        if (stats.batchId == 1L) resumed += stats
        true
      }, quarantineDir = Some(quar))
    q2.awaitTermination()
    assert(resumed.exists(s => s.skipped && s.events > 0),
      s"resumed audit saw: $resumed — the skip path must reconstruct real stats")
    assert(table.stagedIds.isEmpty)
    // everything ultimately published: full golden convergence
    assert(pagesMap(table.pages()) == golden)
  }

  test("crash mid-stream, resume from checkpoint: exactly-once convergence") {
    val wal = tmpDir("wal"); val ckpt = tmpDir("ckpt")
    ChangeGen.writeWal(spark, cfg, wal)
    val table = new LakeTable(spark, tmpDir("lake"))
    // Crash AFTER the lake commit of batch 2 but BEFORE Spark checkpoints it —
    // the worst-case window; resume must skip the already-committed batch.
    var n = 0
    val q = CdcStream.start(spark, wal, table, ckpt, maxFilesPerTrigger = 4,
      createBuckets = 16, onBatch = { st =>
        n += 1
        if (n == 3) throw new RuntimeException("injected crash")
      })
    intercept[StreamingQueryException](q.awaitTermination())
    val versionAtCrash = table.currentSnapshot.get.version
    assert(versionAtCrash >= 2)

    var skips = 0
    val q2 = CdcStream.start(spark, wal, table, ckpt, maxFilesPerTrigger = 4,
      createBuckets = 16, onBatch = st => if (st.skipped) skips += 1)
    q2.awaitTermination()
    assert(skips >= 1, "the replayed in-flight batch must be watermark-skipped")
    assert(pagesMap(table.pages()) == golden)

    // replaying the WHOLE stream from a fresh checkpoint against the same
    // table also converges (idempotent re-apply of every batch)
    val q3 = CdcStream.start(spark, wal, table, tmpDir("ckpt2"), maxFilesPerTrigger = 4,
      createBuckets = 16)
    q3.awaitTermination()
    assert(pagesMap(table.pages()) == golden)
  }
}
