package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}

/** Distributed text-protocol ingest and output (reference S8/S9/S10).
  *
  * Ingest: a `Dataset[String]` of protocol lines (from `spark.read.text`,
  * a socket, or a stream) is parsed into the canonical union-struct schema
  * `(key, ts, fmt, vals: Array[Cell])` with a typed Dataset map — each line
  * parses independently, so this scales embarrassingly and feeds straight
  * into [[graft.store.TxWriter]]'s shuffle-sort (which replaces the
  * reference's input-order requirement).
  *
  * Output: the inverse map, producing byte-compatible reference CLI lines.
  */
object TextIngest {

  /** Derived once: `spark.implicits` builds a product encoder by
    * reflection on every call (~7 ms each, paid by every served GET and
    * PUT). Encoders are immutable, so one instance serves every call.
    */
  private val recordEncoder: Encoder[SeriesRecord] = Encoders.product[SeriesRecord]

  /** Parse lines with one fixed format string (`sonnerie add --format`). */
  def parse(spark: SparkSession, lines: Dataset[String], fmt: String,
            tsPattern: Option[String] = None): Dataset[SeriesRecord] = {
    RowCodec.validate(fmt)
    lines.filter((l: String) => l.nonEmpty)
      .map((l: String) => RowCodec.parseLine(l, fmt, tsPattern))(recordEncoder)
  }

  /** Parse lines with an embedded per-line format (`compact --gegnum` IO). */
  def parseWithFmt(spark: SparkSession, lines: Dataset[String],
                   tsPattern: Option[String] = None): Dataset[SeriesRecord] = {
    lines.filter((l: String) => l.nonEmpty)
      .map((l: String) => RowCodec.parseLineWithFmt(l, tsPattern))(recordEncoder)
  }

  def toDF(records: Dataset[SeriesRecord]): DataFrame = records.toDF()

  /** Render a canonical series Dataset back to protocol lines. */
  def print(
      spark: SparkSession,
      records: Dataset[SeriesRecord],
      tsAsNanos: Boolean = true,
      showFmt: Boolean = false,
      columns: Option[Seq[Int]] = None,
      tsMode: TsMode = null
  ): Dataset[String] = {
    val mode = Option(tsMode).getOrElse(if (tsAsNanos) TsNanos else TsHuman)
    records.map((r: SeriesRecord) =>
      RowCodec.printRecordMode(r, mode, showFmt, columns))(Encoders.STRING)
  }

  /** Timestamp output modes (reference `PrintTimestamp`,
    * `src/formatted.rs:149-176`): raw nanos, epoch seconds, default human
    * layout, or an explicit strftime-style pattern.
    */
  sealed trait TsMode extends Serializable
  case object TsNanos extends TsMode
  case object TsSeconds extends TsMode
  case object TsHuman extends TsMode
  final case class TsPattern(pattern: String) extends TsMode

  /** Read a canonical-schema DataFrame (e.g. a Db snapshot of union-struct
    * data) as typed records.
    */
  def asRecords(df: DataFrame): Dataset[SeriesRecord] =
    df.select("key", "ts", "fmt", "vals").as(recordEncoder)
}
