package graft.sources.dlv

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

/** Per-file column statistics straight from parquet footers — one
  * footer read per file, never a second pass over the data. The write
  * task that closed a file reads its footer ([[DirectCommitProtocol]]);
  * CONVERT reads the footers of the files it adopts.
  *
  * Only leaf primitive columns are tracked; min/max are encoded into
  * the [[AddFile.stats]] JSON as numbers (timestamps as micros-longs,
  * dates as epoch-days) or strings — the same lexicon
  * [[DlvFileIndex]]'s range pruning and [[StatsAggregates]] read back.
  */
object ParquetStats {

  /** `indexedCols` (lowercase PHYSICAL names) restricts which columns
    * get min/max/nullCount — delta's `dataSkippingNumIndexedCols`
    * lever: at 100 TB, per-file stats on a 1000-column table cost
    * real checkpoint bytes and commit-JSON weight for columns nobody
    * filters on. None = index everything. `numRecords` is always
    * collected (metadata COUNT(*) and the identity machinery depend
    * on it). */
  def statsJson(conf: Configuration, file: org.apache.hadoop.fs.Path,
      indexedCols: Option[Set[String]] = None): String =
    footerStats(conf, file, indexedCols)._2

  /** The file's row count and its [[statsJson]], from one footer read. */
  def footerStats(conf: Configuration, file: org.apache.hadoop.fs.Path,
      indexedCols: Option[Set[String]]): (Long, String) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val numRecords = blocks.map(_.getRowCount).sum
      val mins = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
      val maxs = scala.collection.mutable.LinkedHashMap.empty[String, JValue]
      val nulls = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      for (block <- blocks; col <- block.getColumns.asScala) {
        if (col.getPath.size() == 1 && // leaf top-level columns only
            indexedCols.forall(_.contains(
              col.getPath.iterator().next().toLowerCase))) {
          val name = col.getPath.iterator().next()
          val st = col.getStatistics
          if (st != null && !st.isEmpty) {
            nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
            if (st.hasNonNullValue) {
              val prim = col.getPrimitiveType
              def jval(v: AnyRef): Option[JValue] =
                prim.getPrimitiveTypeName match {
                  case PrimitiveTypeName.INT64 =>
                    Some(JLong(v.asInstanceOf[java.lang.Long]))
                  case PrimitiveTypeName.INT32 =>
                    Some(JLong(v.asInstanceOf[java.lang.Integer].toLong))
                  case PrimitiveTypeName.DOUBLE =>
                    Some(JDouble(v.asInstanceOf[java.lang.Double]))
                  case PrimitiveTypeName.FLOAT =>
                    Some(JDouble(v.asInstanceOf[java.lang.Float].toDouble))
                  case PrimitiveTypeName.BOOLEAN =>
                    Some(JBool(v.asInstanceOf[java.lang.Boolean]))
                  case PrimitiveTypeName.BINARY
                    if prim.getLogicalTypeAnnotation
                      .isInstanceOf[LogicalTypeAnnotation
                        .StringLogicalTypeAnnotation] =>
                    Some(JString(
                      v.asInstanceOf[Binary].toStringUsingUTF8))
                  case _ => None
                }
              for (mn <- jval(st.genericGetMin().asInstanceOf[AnyRef])) {
                mins(name) = mins.get(name)
                  .map(ex => if (jLt(mn, ex)) mn else ex).getOrElse(mn)
              }
              for (mx <- jval(st.genericGetMax().asInstanceOf[AnyRef])) {
                maxs(name) = maxs.get(name)
                  .map(ex => if (jLt(ex, mx)) mx else ex).getOrElse(mx)
              }
            }
          }
        }
      }
      numRecords -> JsonMethods.compact(JsonMethods.render(JObject(
        "numRecords" -> JLong(numRecords),
        "minValues" -> JObject(mins.toList),
        "maxValues" -> JObject(maxs.toList),
        "nullCount" -> JObject(
          nulls.toList.map { case (k, v) => k -> (JLong(v): JValue) }))))
    } finally reader.close()
  }

  /** Total order within one column's stats lexicon. */
  def jLt(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JLong(x), JLong(y)) => x < y
    case (JInt(x), JLong(y)) => x < y
    case (JLong(x), JInt(y)) => BigInt(x) < y
    case (JInt(x), JInt(y)) => x < y
    case (JDouble(x), JDouble(y)) => x < y
    case (JLong(x), JDouble(y)) => x < y
    case (JDouble(x), JLong(y)) => x < y
    case (JInt(x), JDouble(y)) => x.toDouble < y
    case (JDouble(x), JInt(y)) => x < y.toDouble
    case (JString(x), JString(y)) => x < y
    case (JBool(x), JBool(y)) => !x && y
    case _ => false
  }
}
