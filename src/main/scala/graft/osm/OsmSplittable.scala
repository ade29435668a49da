package graft.osm

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Splittable scan of a SINGLE monolithic .osm file — the in-place
  * alternative to pre-sharding (OsmShard).
  *
  * Spark's XML source does not split one file (observed in OsmScaleSpec):
  * a 100 GB .osm is one task. XmlElementInputFormat fixes that at the
  * source tier — each Hadoop split scans forward to the first element
  * start tag it owns and reads elements (through the split end for the
  * last one) with O(one element) memory; XmlElementDecoder then turns each
  * element's bytes straight into a row of the same explicit schemas as the
  * stock scans (root attributes and same-named children's attributes, cast
  * with the XML source's rules), so everything downstream (the 5-table
  * pipeline, cleaning, audits) is unchanged. A malformed element fails the
  * read, naming the file and its byte offset.
  */
object OsmSplittable {

  /** DataFrame over every `rowTag` element of (possibly) one huge file.
    * `maxSplitBytes` bounds the Hadoop split size (else the default block
    * sizing applies — on a real cluster, the HDFS/object-store block size).
    */
  def readElements(spark: SparkSession, path: String, rowTag: String,
      schema: StructType, maxSplitBytes: Option[Long] = None): DataFrame = {
    val rows = XmlElementInputFormat.readElements(spark.sparkContext, path, rowTag,
        maxSplitBytes) { (file, elements) =>
      val decoder = new XmlElementDecoder(schema)
      val fileName = file.toString
      elements.map { case (offset, bytes) =>
        decoder.decode(bytes.getBytes, bytes.getLength, fileName, offset.get)
      }
    }
    GraftPlanBridge.ofInternalRows(spark, rows, schema)
  }

  /** Drop-in splittable variants of the stock scans. */
  def readNodesRaw(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    readElements(spark, path, "node", OsmPipeline.nodeXmlSchema, maxSplitBytes)

  def readWaysRaw(spark: SparkSession, path: String,
      maxSplitBytes: Option[Long] = None): DataFrame =
    readElements(spark, path, "way", OsmPipeline.wayXmlSchema, maxSplitBytes)
}
