package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The media layer's two row maps, its sample sum and its byte readers.
  *
  * Every media operator is a per-partition map over a binary payload
  * column: payload bytes never cross an exchange, and an undecodable
  * payload drops its row. [[decodeRows]] is that map for every id-keyed
  * decode ([[Multimodal]], [[Video]], [[Jpeg]]); [[withIdPayload]] and
  * [[appendColumn]] append one column to every row (the fixture
  * builders and [[Multimodal.withMediaMeta]]). Two operators keep their
  * own map: [[Multimodal.mediaCoverage]] emits no id (its rows feed a
  * (format, status) count), and [[Multimodal.resizeImages]] passes every
  * row through with a rewritten payload and metadata struct. */
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
}
