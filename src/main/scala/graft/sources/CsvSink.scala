package graft.sources

import org.apache.spark.sql.DataFrame

/** S7 — CSV sink with the reference's `utf-8-sig` affordance
  * (`Main.py:544,562`): Excel/Power BI infer UTF-8 for Arabic content only
  * when the file starts with the EF BB BF byte-order mark, which Spark's
  * CSV writer never emits.
  *
  * The BOM rides in the header: the first column is renamed to
  * U+FEFF + its name, whose UTF-8 encoding is EF BB BF, and the frame is
  * written once by the normal distributed writer. Every part file opens
  * with its header, so each carries its own BOM, which is what a
  * per-file Excel consumer needs, and the bytes equal BOM + the plain
  * write. Spark's CSV reader strips the BOM, so the column reads back
  * under its own name. Two header forms differ from BOM + the plain
  * write: a first name opening with `#` (the writer's comment char) is
  * quoted by the plain write and left bare behind the BOM, as pandas'
  * `utf-8-sig` writer leaves it; a first name holding a delimiter, quote
  * or line break would put the BOM inside its quotes.
  */
object CsvSink {

  val Bom: Array[Byte] = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** Write `df` as headered CSV; with `bom=true` every part file is
    * prefixed with the UTF-8 BOM (byte-exact `utf-8-sig`). */
  def write(df: DataFrame, path: String, bom: Boolean = true): Unit = {
    val named = df.columns.headOption match {
      case Some(c) if bom => df.withColumnRenamed(c, "\uFEFF" + c)
      case _ => df
    }
    named.write.mode("overwrite")
      .option("header", "true").option("encoding", "UTF-8")
      .csv(path)
  }
}
