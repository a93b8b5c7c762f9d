package graft

import graft.lake.{DataFile, LakeTable}

/** Manifest consolidation into a bucketed part and an L0 part: correctness
  * of the fold, carrying the bucketed part over an L0-only window, the
  * removed-file resurrection guard, and GC of superseded parts. ("Chunk" in
  * the test names means a consolidated part.) Each committing handle runs
  * with a low consolidation threshold through its `consolidateEvery` seam.
  */
class ManifestChunkSpec extends SparkSpec {

  private val Threshold = 4

  private def df(root: String, i: Int, bucket: Int): DataFile =
    DataFile(s"$root/data/c/part-$i.parquet", bucket, 0, 100L, 1000L,
      i.toLong * 10, i.toLong * 10 + 9, bucket.toLong * 1000, bucket.toLong * 1000 + 999)

  private def create(root: String): LakeTable = {
    val t = new LakeTable(spark, root)
    t.consolidateEvery = Threshold
    t.create(graft.core.Schemas.page, 64)
    t
  }

  private def parts(snap: graft.lake.Snapshot): Seq[String] =
    snap.manifests.filter(LakeTable.isConsolidatedPart)
  private def bucketedPart(snap: graft.lake.Snapshot): Option[String] =
    snap.manifests.find(LakeTable.isBucketedPart)

  test("consolidation folds to chunk manifests; snapshotAt equals the expected set") {
    val root = tmpDir()
    val t = create(root)
    var snap = t.currentSnapshot.get
    val expected = scala.collection.mutable.Map.empty[String, DataFile]
    (0 until 10).foreach { k =>
      val adds = Seq(df(root, k * 2, k % 5), df(root, k * 2 + 1, (k + 3) % 5))
      adds.foreach(f => expected(f.path) = f)
      snap = t.commit(snap.copy(files = snap.files ++ adds))
    }
    assert(snap.manifests.exists(LakeTable.isConsolidatedPart), "threshold must have consolidated")
    val reread = new LakeTable(spark, root).snapshotAt(snap.version)
    assert(reread.files.map(f => f.path -> f).toMap == expected.toMap)
  }

  /** Commit single-file adds in `bucket` until the manifest list is JUST
    * consolidated (parts only, no trailing deltas) — the state the
    * assertions need. Terminates within one threshold cycle. Returns the
    * consolidated snapshot.
    */
  private def padUntilConsolidated(t: LakeTable, bucket: Int, idFrom: Int): graft.lake.Snapshot = {
    var snap = t.currentSnapshot.get
    var k = idFrom
    // do-while: at least one commit, so a call from an already-clean state
    // still reaches the NEXT consolidation
    while ({
      snap = t.commit(snap.copy(files = snap.files :+ df(t.root, k, bucket)))
      k += 1
      snap.manifests.isEmpty ||
        snap.manifests.exists(n => !LakeTable.isConsolidatedPart(n))
    }) ()
    snap
  }

  private def assertFreshReadEquals(root: String, snap: graft.lake.Snapshot): Unit = {
    val reread = new LakeTable(spark, root).snapshotAt(snap.version)
    assert(reread.files.size == snap.files.size)
    assert(reread.files.map(f => f.path -> f).toMap == snap.files.map(f => f.path -> f).toMap)
  }

  test("a file removed after landing in a chunk cannot resurrect at the next consolidation") {
    val root = tmpDir()
    val t = create(root)
    var snap = t.currentSnapshot.get
    val victim = df(root, 999, 2)
    snap = t.commit(snap.copy(files = snap.files :+ victim))
    padUntilConsolidated(t, bucket = 1, idFrom = 0) // victim now lives in a part
    snap = t.currentSnapshot.get
    val chunks1 = parts(snap)
    assert(chunks1.nonEmpty && snap.files.exists(_.path == victim.path))
    // remove the victim (compaction-like), then force consolidation #2: the
    // window removed a file → the bucketed part is rewritten without it
    snap = t.commit(snap.copy(files = snap.files.filterNot(_.path == victim.path)))
    padUntilConsolidated(t, bucket = 1, idFrom = 100)
    snap = t.currentSnapshot.get
    val chunks2 = parts(snap)
    assert(chunks2.toSet != chunks1.toSet, "second consolidation must have run")
    val reread = new LakeTable(spark, root).snapshotAt(snap.version)
    assert(!reread.files.exists(_.path == victim.path), "removed file resurrected")
  }

  test("an L0-only window carries the bucketed part over by name, incl. pure L0") {
    val root = tmpDir()
    val t = create(root)
    var snap = t.currentSnapshot.get
    snap = t.commit(snap.copy(files = snap.files ++ (0 until 16).map(b => df(root, b, b))))
    snap = padUntilConsolidated(t, bucket = -1, idFrom = 1000)
    val b1 = bucketedPart(snap)
    assert(b1.isDefined && parts(snap).size == 2, parts(snap))
    // two more L0-only windows: the bucketed part keeps its name, the L0
    // part is rewritten at each consolidation
    var l0Parts = parts(snap).filterNot(LakeTable.isBucketedPart)
    Seq(2000, 3000).foreach { from =>
      snap = padUntilConsolidated(t, bucket = -1, idFrom = from)
      assert(bucketedPart(snap) == b1, "an L0-only window must carry the bucketed part")
      val l0 = parts(snap).filterNot(LakeTable.isBucketedPart)
      assert(l0.size == 1 && l0 != l0Parts, "the L0 part must be rewritten")
      l0Parts = l0
      assertFreshReadEquals(root, snap)
    }

    // a pure-L0 table has no bucketed part to carry: each consolidation
    // writes the L0 part alone
    val pureRoot = tmpDir()
    val pure = create(pureRoot)
    Seq(0, 100).foreach { from =>
      val s = padUntilConsolidated(pure, bucket = -1, idFrom = from)
      assert(bucketedPart(s).isEmpty && parts(s).size == 1, s.manifests)
      assertFreshReadEquals(pureRoot, s)
    }
  }

  test("a bucketed append or any removal in the window rewrites the bucketed part") {
    val root = tmpDir()
    val t = create(root)
    var snap = t.currentSnapshot.get
    snap = t.commit(snap.copy(files = snap.files ++ (0 until 16).map(b => df(root, b, b))))
    snap = padUntilConsolidated(t, bucket = -1, idFrom = 1000)
    val b1 = bucketedPart(snap)
    assert(b1.isDefined)

    // one bucketed append among L0 appends
    snap = t.commit(snap.copy(files = snap.files :+ df(root, 500, 7)))
    snap = padUntilConsolidated(t, bucket = -1, idFrom = 2000)
    val b2 = bucketedPart(snap)
    assert(b2.isDefined && b2 != b1, "a bucketed append must rewrite the bucketed part")
    assertFreshReadEquals(root, snap)

    // one removal of a bucketed file among L0 appends: carrying the part
    // over would resurrect the removed entry
    val victim = snap.files.find(_.bucket == 3).get
    snap = t.commit(snap.copy(files = snap.files.filterNot(_.path == victim.path)))
    snap = padUntilConsolidated(t, bucket = -1, idFrom = 3000)
    val b3 = bucketedPart(snap)
    assert(b3.isDefined && b3 != b2, "a removal must rewrite the bucketed part")
    assertFreshReadEquals(root, snap)
    assert(!t.snapshotAt(snap.version).files.exists(_.path == victim.path))

    // one removal of an L0 file: the rule rewrites on any removal
    val l0Victim = snap.files.find(_.bucket < 0).get
    snap = t.commit(snap.copy(files = snap.files.filterNot(_.path == l0Victim.path)))
    snap = padUntilConsolidated(t, bucket = -1, idFrom = 4000)
    assert(bucketedPart(snap).isDefined && bucketedPart(snap) != b3)
    assertFreshReadEquals(root, snap)
  }

  test("superseded chunk files are GC'd once unreferenced; live ones survive expiry") {
    val root = tmpDir()
    val t = create(root)
    var snap = t.currentSnapshot.get
    val seed = (0 until 16).map(b => df(root, b, b))
    snap = t.commit(snap.copy(files = snap.files ++ seed))
    (0 until Threshold).foreach { k =>
      snap = t.commit(snap.copy(files = snap.files :+ df(root, 100 + k, k)))
    }
    val chunks1 = parts(snap)
    // churn everything — remove+re-add every file under a NEW path (the
    // compaction shape; DataFile entries are path-immutable, in-place stat
    // mutation is not a real commit) → next consolidation rewrites all parts
    (0 to Threshold).foreach { k =>
      snap = t.commit(snap.copy(files = snap.files.map(f =>
        f.copy(path = f.path + s".r$k")) :+ df(root, 300 + k, k)))
    }
    val chunks2 = parts(snap)
    assert((chunks1.toSet intersect chunks2.toSet).isEmpty)
    t.expireSnapshots(keepLast = 1)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    chunks1.foreach { n =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/manifests/$n")),
        s"superseded chunk $n not swept")
    }
    chunks2.foreach { n =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/manifests/$n")),
        s"live chunk $n swept")
    }
    assert(new LakeTable(spark, root).snapshotAt(snap.version).files.size == snap.files.size)
  }
}
