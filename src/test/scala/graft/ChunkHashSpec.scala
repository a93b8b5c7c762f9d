package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.lake.{DataFile, LakeTable}

/** The chunk manifest's content address, without Spark: distinct entry lists
  * must never share a digest, or a reused chunk would serve wrong entries. */
class ChunkHashSpec extends AnyFunSuite {

  // every stat long is eight ASCII bytes, so an entry's stat block is also a
  // valid piece of a UTF-8 path
  private val ascii = 0x4142434445464748L // "ABCDEFGH"
  private def entry(path: String, bucket: Int): DataFile =
    DataFile(path, bucket, 0x41424344, ascii, ascii, ascii, ascii, ascii, ascii)

  private def statBytes(f: DataFile): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(64)
    b.putLong(f.bucket.toLong).putLong(f.schemaId.toLong).putLong(f.rows)
      .putLong(f.bytes).putLong(f.minLsn).putLong(f.maxLsn)
      .putLong(f.minUrlHash).putLong(f.maxUrlHash)
    b.array()
  }

  test("a path that absorbs its neighbour's stat bytes does not collide") {
    val p = entry("/t/data/c1/part-0.parquet", 0x41414141)
    val q = entry("/t/data/c2/part-1.parquet", 0x42424242)
    // [(P, S), (Q, S2)] against [(P‖S‖Q, S2)]
    val merged = q.copy(path = p.path + new String(statBytes(p), "US-ASCII") + q.path)
    val oneEntry = Seq(merged); val twoEntries = Seq(p, q)
    def unprefixed(fs: Seq[DataFile]): Seq[Byte] =
      fs.flatMap(f => f.path.getBytes("UTF-8").toSeq ++ statBytes(f).toSeq)
    assert(unprefixed(oneEntry) == unprefixed(twoEntries),
      "the two lists are one byte stream when paths carry no length")
    assert(LakeTable.chunkHash(oneEntry) != LakeTable.chunkHash(twoEntries))
  }

  test("the digest is stable and sensitive to every field") {
    val f = entry("/t/data/c1/part-0.parquet", 3)
    assert(LakeTable.chunkHash(Seq(f)) == LakeTable.chunkHash(Seq(f.copy())))
    Seq(f.copy(path = f.path + "x"), f.copy(bucket = 4), f.copy(rows = 1L),
      f.copy(maxUrlHash = 1L)).foreach { g =>
      assert(LakeTable.chunkHash(Seq(g)) != LakeTable.chunkHash(Seq(f)))
    }
  }
}
