package graft.formats

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}

import org.apache.spark.sql.{Column, GraftExpr}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.BinaryType

/** In-pipeline byte-stream compression — the reference's `compress_*` /
  * `decompress_*` operators (`/root/reference/libtenzir/builtins/operators/
  * compress_decompress.cpp`, Arrow codec registry) as pure Catalyst
  * expressions over `binary` columns.
  *
  * Each codec is a [[StaticInvoke]] of a static JVM helper: whole-stage
  * codegen emits a direct call (no UDF wrapping, no serialization penalty),
  * nulls propagate, and the expression is deterministic — so it folds,
  * prunes, and pushes like any built-in. Codecs ride jars Spark already
  * ships: JDK zlib/gzip, lz4-java (frame format), zstd-jni, Hadoop's
  * pure-Java bzip2. Brotli is NOT on Spark's classpath and is deliberately
  * absent (the one reference codec without a JVM-native implementation).
  *
  * These compose with connectors for wire-compressed payloads; at-rest
  * compression stays the Parquet codec's job, per column chunk (snappy for
  * lake appends, zstd for compaction output: `LakeTable.tiered`), which is
  * why the lake never calls these.
  */
object Codec {

  val Codecs: Seq[String] = Seq("gzip", "zlib", "lz4", "zstd", "bz2")

  private def invoke(fn: String, c: Column): Column =
    GraftExpr.column(StaticInvoke(
      classOf[CodecImpl],
      BinaryType,
      fn,
      Seq(GraftExpr.expression(c)),
      inputTypes = Seq(BinaryType),
      propagateNull = true,
      returnNullable = false))

  /** `compress_<name>`: binary → compressed binary (null → null). */
  def compress(c: Column, codec: String): Column = codec match {
    case "gzip" => invoke("gzipCompress", c)
    case "zlib" => invoke("zlibCompress", c)
    case "lz4"  => invoke("lz4Compress", c)
    case "zstd" => invoke("zstdCompress", c)
    case "bz2"  => invoke("bz2Compress", c)
    case other => throw new IllegalArgumentException(
      s"unknown codec '$other' (have: ${Codecs.mkString(", ")})")
  }

  /** `decompress_<name>`: compressed binary → binary (null → null). */
  def decompress(c: Column, codec: String): Column = codec match {
    case "gzip" => invoke("gzipDecompress", c)
    case "zlib" => invoke("zlibDecompress", c)
    case "lz4"  => invoke("lz4Decompress", c)
    case "zstd" => invoke("zstdDecompress", c)
    case "bz2"  => invoke("bz2Decompress", c)
    case other => throw new IllegalArgumentException(
      s"unknown codec '$other' (have: ${Codecs.mkString(", ")})")
  }
}

/** Static codec kernels for [[Codec]]'s StaticInvoke expressions. A plain
  * class with static-forwardable members won't do — StaticInvoke calls
  * `ClassName.method(...)` in generated Java — so these are genuine Java
  * statics via a Scala object's companion-class forwarders.
  */
class CodecImpl private ()

object CodecImpl {

  private def pump(in: InputStream): Array[Byte] = {
    val out = new ByteArrayOutputStream(8192)
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close()
    out.toByteArray
  }

  private def sink(data: Array[Byte], wrap: OutputStream => OutputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream(math.max(64, data.length / 4))
    val os = wrap(bos)
    os.write(data); os.close()
    bos.toByteArray
  }

  def gzipCompress(data: Array[Byte]): Array[Byte] =
    sink(data, new java.util.zip.GZIPOutputStream(_))
  def gzipDecompress(data: Array[Byte]): Array[Byte] =
    pump(new java.util.zip.GZIPInputStream(new ByteArrayInputStream(data)))

  def zlibCompress(data: Array[Byte]): Array[Byte] =
    sink(data, new java.util.zip.DeflaterOutputStream(_))
  def zlibDecompress(data: Array[Byte]): Array[Byte] =
    pump(new java.util.zip.InflaterInputStream(new ByteArrayInputStream(data)))

  def lz4Compress(data: Array[Byte]): Array[Byte] =
    sink(data, new net.jpountz.lz4.LZ4FrameOutputStream(_))
  def lz4Decompress(data: Array[Byte]): Array[Byte] =
    pump(new net.jpountz.lz4.LZ4FrameInputStream(new ByteArrayInputStream(data)))

  def zstdCompress(data: Array[Byte]): Array[Byte] =
    sink(data, new com.github.luben.zstd.ZstdOutputStream(_))
  def zstdDecompress(data: Array[Byte]): Array[Byte] =
    pump(new com.github.luben.zstd.ZstdInputStream(new ByteArrayInputStream(data)))

  // Hadoop's CBZip2 streams carry the payload only; the "BZ" file magic is
  // the codec wrapper's job — written/consumed here so the bytes are
  // spec-compliant bzip2 (`bzcat`-able), matching the reference's Arrow codec.
  def bz2Compress(data: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(math.max(64, data.length / 4))
    bos.write('B'); bos.write('Z')
    val os = new org.apache.hadoop.io.compress.bzip2.CBZip2OutputStream(bos)
    os.write(data); os.close()
    bos.toByteArray
  }
  def bz2Decompress(data: Array[Byte]): Array[Byte] = {
    val in = new ByteArrayInputStream(data)
    if (data.length >= 2 && data(0) == 'B' && data(1) == 'Z') { in.read(); in.read() }
    pump(new org.apache.hadoop.io.compress.bzip2.CBZip2InputStream(in))
  }
}
