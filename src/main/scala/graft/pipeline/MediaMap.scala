package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The media layer's two row maps, its sample sum, and its byte readers
  * and writers.
  *
  * Every media operator is a per-partition map over a binary payload
  * column: payload bytes never cross an exchange, and an undecodable
  * payload drops its row. [[decodeRows]] is that map for every id-keyed
  * decode ([[Multimodal]], [[Video]], [[Jpeg]]); [[withIdPayload]] and
  * [[appendColumn]] append one column to every row (the fixture
  * builders and [[Multimodal.withMediaMeta]]). Two operators keep their
  * own map: [[Multimodal.mediaCoverage]] emits no id (its rows feed a
  * (format, status) count), and [[Multimodal.resizeImages]] passes every
  * row through with a rewritten payload and metadata struct.
  *
  * The readers (`be16` … `tag`) serve every container walk; the writers
  * ([[ByteSink]]: endian puts, RIFF chunks, ISO BMFF boxes, PNG chunks and
  * JPEG marker segments) serve every fixture builder. */
private[pipeline] object MediaMap {

  /** The id-keyed decode map: selects `idCol`, `payloadCol` and
    * `carryCols` BEFORE the map (Catalyst cannot prune columns through
    * an object map, so the projection must sit here), hands each payload
    * (null included) to `decode`, and emits `id +: values ++ carry` for
    * each value row (one value per field of `fields`) it returns, in
    * order; a payload it returns nothing for drops. The output schema is
    * the id's source field, `fields`, then the carry columns' source
    * fields. Value rows are `Row`s, not `Seq`s: `Seq(1, 2L)` infers a
    * `Seq[Long]`, which no longer fits an integer field. */
  def decodeRows(df: DataFrame, idCol: String, payloadCol: String,
      fields: Seq[StructField], carryCols: Seq[String] = Nil)(
      decode: Array[Byte] => IterableOnce[Row]): DataFrame = {
    val schema = StructType(
      (df.schema(idCol) +: fields) ++ carryCols.map(df.schema(_)))
    df.select(col(idCol) +: col(payloadCol) +: carryCols.map(col): _*)
      .mapPartitions { it =>
        it.flatMap { r =>
          val id = r.get(0)
          val carry = (2 until r.length).map(r.get)
          decode(r.getAs[Array[Byte]](1)).iterator
            .map(v => Row.fromSeq((id +: v.toSeq) ++ carry))
        }
      }(Encoders.row(schema))
      .toDF()
  }

  /** `df` with `field` appended to every row, its value `value(row)`. */
  def appendColumn(df: DataFrame, field: StructField)(
      value: Row => Any): DataFrame =
    df.mapPartitions { it =>
      it.map(r => Row.fromSeq(r.toSeq :+ value(r)))
    }(Encoders.row(StructType(df.schema.fields :+ field))).toDF()

  /** A fixture column: `payloadCol` = `payload(id)` for the long `idCol`. */
  def withIdPayload(df: DataFrame, idCol: String, payloadCol: String)(
      payload: Long => Array[Byte]): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    appendColumn(df, StructField(payloadCol, BinaryType))(r =>
      payload(r.getLong(idIdx)))
  }

  /** Exact Σ of decoded samples. */
  def sampleSum(samples: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < samples.length) { s += samples(i); i += 1 }
    s
  }

  // ---- byte readers (bounds-checked by callers) ----
  def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
  def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
  def tag(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  // ---- byte writers ----

  /** The bytes `write` puts into a fresh [[ByteSink]]. */
  def sink(write: ByteSink => Unit): Array[Byte] = {
    val s = new ByteSink
    write(s)
    s.toByteArray
  }

  /** A growable byte buffer with the media formats' puts and framings.
    * Each put writes the low bytes of its value and returns the sink. */
  final class ByteSink extends java.io.ByteArrayOutputStream {
    def u8(v: Int): ByteSink = { write(v); this }
    def be16(v: Int): ByteSink = u8(v >> 8).u8(v)
    def be32(v: Long): ByteSink = be16((v >> 16).toInt).be16(v.toInt)
    def le16(v: Int): ByteSink = u8(v).u8(v >> 8)
    def le32(v: Long): ByteSink = le16(v.toInt).le16((v >> 16).toInt)
    def fourcc(t: String): ByteSink = {
      require(t.length == 4, s"fourcc '$t'")
      t.foreach(c => write(c))
      this
    }
    def bytes(b: Array[Byte]): ByteSink = { write(b, 0, b.length); this }
    def zeros(n: Int): ByteSink = bytes(new Array[Byte](n))

    /** A RIFF chunk: id, LE32 body length, body, and a pad byte after an
      * odd body (chunks are word-aligned). */
    def chunk(id: String)(body: ByteSink => Unit): ByteSink = {
      val b = sink(body)
      fourcc(id).le32(b.length).bytes(b)
      if ((b.length & 1) == 1) u8(0) else this
    }
    /** A RIFF form or list chunk (`RIFF`, `LIST`): its type, then `body`. */
    def chunkList(id: String, listType: String)(
        body: ByteSink => Unit): ByteSink =
      chunk(id) { s => s.fourcc(listType); body(s) }

    /** An ISO BMFF box: BE32 size (header included), type, body. */
    def box(boxType: String)(body: ByteSink => Unit): ByteSink = {
      val b = sink(body)
      be32(8L + b.length).fourcc(boxType).bytes(b)
    }

    /** A PNG chunk: BE32 data length, type, data, CRC-32 of type + data. */
    def pngChunk(chunkType: String)(data: ByteSink => Unit): ByteSink = {
      val b = sink { s => s.fourcc(chunkType); data(s) }
      val crc = new java.util.zip.CRC32()
      crc.update(b)
      be32(b.length - 4L).bytes(b).be32(crc.getValue)
    }

    /** A JPEG marker with no length field (SOI, EOI, RSTn). */
    def marker(m: Int): ByteSink = u8(0xFF).u8(m)
    /** A JPEG marker segment: marker, BE16 length (itself included),
      * payload bytes. */
    def segment(m: Int, payload: Int*): ByteSink = {
      marker(m).be16(payload.length + 2)
      payload.foreach(u8)
      this
    }
  }
}
