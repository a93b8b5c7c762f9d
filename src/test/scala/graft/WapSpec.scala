package graft

import org.apache.spark.sql.functions.col

import graft.cdc.CdcApply
import graft.gen.{ChangeGen, GenConfig, GenEvent}
import graft.lake.LakeTable

/** Write-audit-publish (Iceberg staged snapshots): staged batches are
  * invisible until published, audits can reject them, append-only stages
  * rebase over concurrent commits, rewrites conflict, and retention pins
  * staged bases + files.
  */
class WapSpec extends SparkSpec {
  import spark.implicits._

  val cfg = GenConfig(events = 6000, segmentSize = 512)
  lazy val allEvents: Seq[GenEvent] = ChangeGen.events(spark, cfg).collect().toSeq
  lazy val golden: Map[String, (String, String, Long, Int)] = expectedMap(allEvents)

  private def segGroups(events: Seq[GenEvent], segsPerBatch: Int): Seq[Seq[GenEvent]] =
    events.groupBy(_.seg / segsPerBatch).toSeq.sortBy(_._1).map(_._2)

  test("stage → audit → publish: invisible until published, then exact") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    // batch 0 committed normally, batch 1 staged
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "w", 0L,
      createBuckets = 16)
    val v1 = table.currentSnapshot.get.version
    val visibleBefore = table.pages().count()
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "w", 1L,
      createBuckets = 16, stageAs = Some("b1"))
    // staged: table head unmoved, readers see nothing new
    assert(table.currentSnapshot.get.version == v1)
    assert(table.pages().count() == visibleBefore)
    assert(table.stagedIds == Seq("b1"))
    // audit the staged state (pages over the staged snapshot): rows appear
    val auditRows = table.pages(table.stagedSnapshot("b1")).count()
    assert(auditRows > visibleBefore || groups(1).forall(_.op == "D"))
    // publish (fast path: head == staged base), then drain the rest normally
    table.publishStaged("b1")
    assert(table.stagedIds.isEmpty)
    assert(table.currentSnapshot.get.watermarks("w") == 1L)
    groups.drop(2).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "w", (i + 2).toLong,
        createBuckets = 16)
    }
    assert(pagesMap(table.pages()) == golden)
    // lineage carried the staged batch's entry with its published version
    assert(table.lineageLog.exists(e => e.batchId == 1L && e.events == groups(1).size))
  }

  test("re-publish after crash between commit and staged delete is idempotent") {
    val root = tmpDir()
    val table = new LakeTable(spark, root)
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "w", 0L,
      createBuckets = 16)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "w", 1L,
      createBuckets = 16, stageAs = Some("b1"))
    // snapshot the staged file, publish, then restore it — exactly the state
    // a crash between publishStaged's commit and its staged-file delete leaves
    val stagedFile = java.nio.file.Paths.get(root, "staged", "wap-b1.json")
    val stagedBytes = java.nio.file.Files.readAllBytes(stagedFile)
    val published = table.publishStaged("b1")
    java.nio.file.Files.createDirectories(stagedFile.getParent)
    java.nio.file.Files.write(stagedFile, stagedBytes)
    assert(table.stagedIds == Seq("b1"))
    val logBefore = table.lineageLog
    // the retry must clear the stage WITHOUT a new commit or duplicate lineage
    val again = table.publishStaged("b1")
    assert(again.version == published.version)
    assert(table.currentSnapshot.get.version == published.version)
    assert(table.stagedIds.isEmpty)
    assert(table.lineageLog == logBefore)
    // a wapId REUSED for a different batch after a successful publish must
    // NOT be swallowed by the breadcrumb: the staged bytes differ from the
    // published stamp, so it publishes as a new commit
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(2)).toDF(), "w2", 0L,
      createBuckets = 16, stageAs = Some("b1"))
    val countBefore = table.pages().count()
    val reused = table.publishStaged("b1")
    assert(reused.version > published.version)
    assert(table.currentSnapshot.get.version == reused.version)
    assert(table.pages().count() != countBefore ||
      groups(2).forall(e => e.op == "D" || e.op == "U"))
    assert(table.lineageLog.exists(e => e.queryId == "w2" && e.batchId == 0L))
    // later publishes prune the closed breadcrumb so props stay bounded
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(3)).toDF(), "w", 2L,
      createBuckets = 16, stageAs = Some("b2"))
    table.publishStaged("b2")
    val props = table.currentSnapshot.get.props
    assert(props.contains(LakeTable.publishedProp("b2")))
    assert(!props.contains(LakeTable.publishedProp("b1")))
  }

  test("audit reject: dropStaged leaves no trace; sweep collects the files") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "x", 0L,
      createBuckets = 16)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "x", 1L,
      createBuckets = 16, stageAs = Some("bad"))
    val stagedFiles = table.stagedSnapshot("bad").files.map(_.path)
      .filterNot(table.currentSnapshot.get.files.map(_.path).toSet)
    assert(stagedFiles.nonEmpty)
    // while staged, the sweep must NOT collect the pending batch
    table.expireSnapshots(keepLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sessionState.newHadoopConf())
    assert(stagedFiles.forall(p => fs.exists(new org.apache.hadoop.fs.Path(p))))
    table.dropStaged("bad")
    assert(table.stagedIds.isEmpty)
    val (_, deleted) = table.expireSnapshots(keepLast = 1)
    assert(deleted >= stagedFiles.size, "dropped stage's files must be swept")
    assert(stagedFiles.forall(p => !fs.exists(new org.apache.hadoop.fs.Path(p))))
    // watermark never advanced for the rejected batch: re-apply (committed)
    // is NOT skipped and the table converges
    val redo = CdcApply.applyBatchAppendRaw(table,
      spark.createDataset(groups(1)).toDF(), "x", 1L, createBuckets = 16)
    assert(!redo.skipped)
  }

  test("append-only stage rebases over commits that landed after its base") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "y", 0L,
      createBuckets = 16)
    // stage batch 1, then let batches 2..n COMMIT past it (head advances)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "y-audit", 1L,
      createBuckets = 16, stageAs = Some("lag"))
    groups.drop(2).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "y", (i + 2).toLong,
        createBuckets = 16)
    }
    val headBefore = table.currentSnapshot.get.version
    val published = table.publishStaged("lag") // rebase path
    assert(published.version == headBefore + 1)
    assert(pagesMap(table.pages()) == golden)
    // watermarks merged: main query at its max, the staged writer's carried
    assert(table.currentSnapshot.get.watermarks("y") == groups.size - 1L)
    assert(table.currentSnapshot.get.watermarks("y-audit") == 1L)
  }

  test("staged rewrite conflicts when the table advances; schema merge carries over") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "z", 0L,
      createBuckets = 16)
    // a staged COMPACTION (removes base files) — then the head moves
    val snap = table.currentSnapshot.get
    val compacted = snap.copy(files = snap.files.take(1)) // fake rewrite: drops files
    table.stageCommit(compacted, "rw")
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "z", 1L,
      createBuckets = 16)
    val e = intercept[java.util.ConcurrentModificationException](table.publishStaged("rw"))
    assert(e.getMessage.contains("re-audit"))
    table.dropStaged("rw")
    // schema evolution inside a staged batch survives the rebase publish
    val evolved = groups(2).map(_.copy()) // same rows; evolution comes from extra column
    val evDf = spark.createDataset(evolved).toDF()
      .withColumn("mime", org.apache.spark.sql.functions.lit("text/html"))
    CdcApply.applyBatchAppendRaw(table, evDf, "z-ev", 2L, createBuckets = 16,
      stageAs = Some("ev"))
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(3)).toDF(), "z", 3L,
      createBuckets = 16)
    table.publishStaged("ev")
    val cols = table.pages().columns
    assert(cols.contains("mime"), s"evolved column must survive publish: ${cols.mkString(",")}")
  }

  test("same-query ordering: committing past a staged earlier batch is refused; staged replay skips") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "q", 0L,
      createBuckets = 16)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "q", 1L,
      createBuckets = 16, stageAs = Some("gap"))
    // crash-replay of the staged batch: idempotent skip, no duplicate stage
    val again = CdcApply.applyBatchAppendRaw(table,
      spark.createDataset(groups(1)).toDF(), "q", 1L, createBuckets = 16,
      stageAs = Some("gap"))
    assert(again.skipped && table.stagedIds == Seq("gap"))
    // committing batch 2 of the SAME query would advance the watermark past
    // the staged (not yet durable) batch 1 — refused
    val e = intercept[IllegalStateException](
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(2)).toDF(), "q", 2L,
        createBuckets = 16))
    assert(e.getMessage.contains("publish or drop"))
    // publish unblocks; the full replay then converges
    table.publishStaged("gap")
    groups.drop(2).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "q", (i + 2).toLong,
        createBuckets = 16)
    }
    assert(pagesMap(table.pages()) == golden)
  }

  test("publish fences: concurrent rebucket and tombstone-GC both refuse the stage") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "f", 0L,
      createBuckets = 16)
    // rebucket fence: staged under 16 buckets, table rebucketed to 8. A
    // stage that adds a bucketed file carries stale bucket ids — refused
    val base = table.currentSnapshot.get
    val bucketed = table.writeDataFiles(table.scanRaw(base), base.currentSchemaId,
      base.buckets, nTasks = 4)
    assert(bucketed.nonEmpty && bucketed.forall(_.bucket >= 0))
    table.stageCommit(base.copy(files = base.files ++ bucketed), "rbb")
    // an L0 stage spans every bucket, so it is valid under any count
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "f-a", 1L,
      createBuckets = 16, stageAs = Some("rb"))
    table.compact(rebucket = Some(8))
    val e1 = intercept[java.util.ConcurrentModificationException](table.publishStaged("rbb"))
    assert(e1.getMessage.contains("rebucketed"))
    table.dropStaged("rbb")
    val published = table.publishStaged("rb")
    assert(published.buckets == 8)
    assert(pagesMap(table.pages(published)) == expectedMap(groups(0) ++ groups(1)))
    // tombstone-GC fence: stage an old-lsn batch, GC tombstones above it
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(2)).toDF(), "f-b", 1L,
      createBuckets = 16, stageAs = Some("gc"))
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(3)).toDF(), "f", 1L,
      createBuckets = 16)
    table.compact(maxFilesPerBucket = 1, gcTombstonesBelowLsn = Some(Long.MaxValue / 2))
    val e2 = intercept[java.util.ConcurrentModificationException](table.publishStaged("gc"))
    assert(e2.getMessage.contains("resurrect"))
    table.dropStaged("gc")
  }

  test("cross-mode seams: dv refuses un-flushed L0 files and staged-gap commits") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    // L0 spanning append, then a dv apply without a flush: the spanning
    // file is a second version of every url it holds, which the dv mask
    // cannot account for — refused until compaction flushes it
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "m", 0L,
      createBuckets = 16)
    assert(table.currentSnapshot.get.files.exists(_.bucket < 0))
    val e1 = intercept[IllegalArgumentException](
      CdcApply.applyBatchDv(table, spark.createDataset(groups(1)).toDF(), "m", 1L,
        createBuckets = 16))
    assert(e1.getMessage.contains("un-flushed L0 spanning files"), e1.getMessage)
    table.compact(maxFilesPerBucket = 1) // full flush: L0 → buckets
    CdcApply.applyBatchDv(table, spark.createDataset(groups(1)).toDF(), "m", 1L,
      createBuckets = 16)
    // the WAP ordering guard holds across MODES too: staged batch 2 (raw),
    // then a dv commit of batch 3 under the same query — refused
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(2)).toDF(), "m", 2L,
      createBuckets = 16, stageAs = Some("gap2"))
    val e2 = intercept[IllegalStateException](
      CdcApply.applyBatchDv(table, spark.createDataset(groups(3)).toDF(), "m", 3L,
        createBuckets = 16))
    assert(e2.getMessage.contains("publish or drop"))
    // the published raw batch leaves the table multi-version: dv needs a
    // full compaction before its next batch
    table.publishStaged("gap2")
    assert(table.needsResolve(table.currentSnapshot.get))
    table.compact(maxFilesPerBucket = 1)
    (3 until groups.size).foreach { i =>
      CdcApply.applyBatchDv(table, spark.createDataset(groups(i)).toDF(), "m", i.toLong,
        createBuckets = 16)
    }
    assert(pagesMap(table.pages()) == golden)
  }

  test("expiry pins the staged base so a lagging publish can still rebase") {
    val table = new LakeTable(spark, tmpDir())
    val groups = segGroups(allEvents, 6)
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(0)).toDF(), "p", 0L,
      createBuckets = 16)
    val baseV = table.currentSnapshot.get.version
    CdcApply.applyBatchAppendRaw(table, spark.createDataset(groups(1)).toDF(), "p-audit", 1L,
      createBuckets = 16, stageAs = Some("pin"))
    groups.drop(2).zipWithIndex.foreach { case (g, i) =>
      CdcApply.applyBatchAppendRaw(table, spark.createDataset(g).toDF(), "p", (i + 2).toLong,
        createBuckets = 16)
    }
    table.expireSnapshots(keepLast = 1)
    assert(table.versionExists(baseV), "staged base must survive expiry")
    table.publishStaged("pin")
    assert(pagesMap(table.pages()) == golden)
  }
}
