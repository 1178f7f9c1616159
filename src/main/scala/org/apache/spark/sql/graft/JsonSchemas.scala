package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions,
  JsonInferSchema}
import org.apache.spark.sql.types.{DataType, StructType}

/** Driver-side JSON schema inference (same packaging constraint as the
  * expression files: `JsonInferSchema` is internal catalyst API).
  *
  * `spark.read.json` over a one-document Dataset runs a Spark job just
  * to infer that document's schema. For request-sized inputs the same
  * inference runs here, on the calling thread, with the options
  * `DataFrameReader.json` builds by default — so a caller can group
  * documents by the exact schema each would get on its own and read
  * each group with `read.schema(s).json`, which runs no inference job.
  */
object JsonSchemas {

  /** The schema `spark.read.json` infers for the single JSON document
    * `json` (one object): fields sorted by name, integral numbers
    * LONG, fractional DOUBLE, nulls STRING. */
  def inferOne(spark: SparkSession, json: String): StructType = {
    val conf = spark.sessionState.conf
    val options = new JSONOptions(Map.empty[String, String],
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val inferrer = new JsonInferSchema(options)
    val parser = CreateJacksonParser.string(options.buildJsonFactory(), json)
    val field =
      try { parser.nextToken(); inferrer.inferField(parser) }
      finally parser.close()
    // the fold `JsonInferSchema.infer` runs over a dataset, for one
    // record: merge into the empty root, then canonicalize (NullType →
    // STRING, empty structs dropped)
    val root = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)(
      StructType(Nil), field)
    canonicalize.invoke(inferrer, root, options)
      .asInstanceOf[Option[DataType]]
      .collectFirst { case s: StructType => s }
      .getOrElse(StructType(Nil))
  }

  // `canonicalizeType` is public in bytecode but package-private to
  // catalyst.json in Scala; called reflectively so the rules stay
  // Spark's own
  private val canonicalize = classOf[JsonInferSchema].getMethod(
    "canonicalizeType", classOf[DataType], classOf[JSONOptions])
}
