package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{FrameOps, Scaling, TimeSeriesOps}

/** F1/F2 — strftime ⇄ JDK datetime pattern translation (SURVEY §4.3
  * trap 7). The reference's user-facing API takes strftime formats
  * (`date_format="%d/%m/%Y"`, paqarin/utils/data_utils.py:38); Spark wants
  * JDK patterns. Covers the directives the reference uses plus the common
  * ones.
  */
object DateFormats {
  private val mapping = Map(
    "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%I" -> "hh", "%M" -> "mm", "%S" -> "ss",
    "%f" -> "SSSSSS", "%p" -> "a", "%j" -> "DDD", "%z" -> "xx",
    "%b" -> "MMM", "%B" -> "MMMM", "%a" -> "EEE", "%A" -> "EEEE")

  def strftimeToJdk(fmt: String): String = {
    // tokenize: translate %X directives, single-quote literal runs that
    // contain letters (JDK reserves all letters as pattern characters —
    // a bare %% followed by a letter must come out quoted, not live)
    val out = new StringBuilder
    val literal = new StringBuilder
    def flushLiteral(): Unit = {
      val s = literal.toString
      if (s.nonEmpty) {
        if (s.exists(c => c.isLetter || c == '\''))
          out.append("'" + s.replace("'", "''") + "'")
        else out.append(s)
      }
      literal.clear()
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val d = fmt.substring(i, i + 2)
        if (d == "%%") { literal.append('%'); i += 2 }
        else mapping.get(d) match {
          case Some(j) => flushLiteral(); out.append(j); i += 2
          case None => throw new IllegalArgumentException(
            s"unsupported strftime directive $d in '$fmt'")
        }
      } else if (fmt.charAt(i) == '%') {
        throw new IllegalArgumentException("dangling % in '" + fmt + "'")
      } else { literal.append(fmt.charAt(i)); i += 1 }
    }
    flushLiteral()
    out.toString
  }
}

/** Thin typed wrapper over a DataFrame + its [[TsSchema]] (SURVEY §7.1
  * module `core`): the ergonomic API surface the reference exposes through
  * its generator/transformer classes, delegating to the `ops` functions.
  * Every method returns a new frame; nothing is materialized.
  */
final case class TimeSeriesFrame(df: DataFrame, schema: TsSchema) {

  private def id = schema.itemIdCols.head

  /** Parse a string timestamp column using the schema's (strftime) format.
    * With `strict=true`, a value that fails to parse raises — mirroring the
    * reference's wrong-date-format error
    * (tests/test_synthcity_adapter.py:138-141); otherwise failures become
    * nulls (pandas `errors="coerce"` behavior). */
  def parseTimestamps(strict: Boolean = false): TimeSeriesFrame = {
    val jdk = DateFormats.strftimeToJdk(schema.dateFormat)
    val parsed = df.withColumn(schema.tsCol, to_timestamp(col(schema.tsCol), jdk))
    if (strict) {
      // only NON-null sources that fail to parse count as errors —
      // pre-existing nulls pass through, like pandas NaT
      val bad = df.filter(col(schema.tsCol).isNotNull
        && to_timestamp(col(schema.tsCol), jdk).isNull).count()
      if (bad > 0) throw new IllegalArgumentException(
        s"$bad value(s) in '${schema.tsCol}' do not match format " +
          s"'${schema.dateFormat}' ($jdk)")
    }
    copy(df = parsed)
  }

  /** Format the timestamp column back to strings (synthcity round-trip,
    * synthcity_adapter.py:210-212). */
  def formatTimestamps(): TimeSeriesFrame = {
    val jdk = DateFormats.strftimeToJdk(schema.dateFormat)
    copy(df = df.withColumn(schema.tsCol, date_format(col(schema.tsCol), jdk)))
  }

  def resampleSum(unit: String = "day"): TimeSeriesFrame =
    copy(df = TimeSeriesOps.resampleSum(df, id, schema.tsCol, schema.numericCols, unit))

  def normalise(orderCol: String): TimeSeriesOps.NormalisedSequences =
    TimeSeriesOps.normaliseSequences(
      df, schema.itemIdCols, schema.tsCol, schema.numericCols, orderCol)

  def slidingWindows(seqLen: Int, orderCol: String): DataFrame =
    TimeSeriesOps.slidingWindows(df, id, orderCol, schema.numericCols, seqLen)

  def fitScaler(): Scaling.MinMaxStats = Scaling.fit(df, schema.numericCols)

  def fillNulls(value: Double = 0.0): TimeSeriesFrame =
    copy(df = FrameOps.fillNulls(df, schema.numericCols, value))
}
