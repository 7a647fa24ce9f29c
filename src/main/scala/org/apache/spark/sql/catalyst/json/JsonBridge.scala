package org.apache.spark.sql.catalyst.json

import java.io.CharConversionException
import java.nio.charset.MalformedInputException

import com.fasterxml.jackson.core.JsonProcessingException

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.Utils

/** `spark.read.json(ds)` decoded on the driver, with no Spark job, when
  * `ds` is already a driver-side `LocalRelation` (what
  * `createDataset(Seq(...))` builds). The reader's distributed route runs
  * one job to infer the schema and parses every record again in the
  * consuming job's tasks; here the same Spark classes run in the calling
  * thread under the session's conf:
  *   - inference is `JsonInferSchema.infer` per record: `inferField`,
  *     folded from an empty struct through `compatibleRootType`, then
  *     `canonicalizeType` (not public, hence this package); a record that
  *     fails to parse types as the corrupt-record column, as it does there
  *     in the default PERMISSIVE mode;
  *   - parsing is `JacksonParser(allowArrayAsStructs = true)` under
  *     `FailureSafeParser`, as `DataFrameReader.json(Dataset)` does.
  * The result is a `LocalRelation` frame: same schema, same rows.
  */
object JsonBridge {

  /** The decoded frame, or None when `json` is not a driver-side
    * one-string-column `LocalRelation`.
    */
  def readLocal(spark: SparkSession, json: Dataset[String]): Option[DataFrame] =
    json.queryExecution.analyzed match {
      case r: LocalRelation if !r.isStreaming && r.output.size == 1 &&
          r.output.head.dataType.isInstanceOf[StringType] =>
        Some(read(spark.asInstanceOf[classic.SparkSession], r.data))
      case _ => None
    }

  private def read(spark: classic.SparkSession, records: Seq[InternalRow]): DataFrame = {
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new JSONOptions(
        Map.empty[String, String], conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val corruptCol = options.columnNameOfCorruptRecord
      val schema = infer(records, options)
      val raw = new JacksonParser(
        StructType(schema.filterNot(_.name == corruptCol)), options, allowArrayAsStructs = true)
      val parser = new FailureSafeParser[String](
        input => raw.parse(input, CreateJacksonParser.string, UTF8String.fromString),
        options.parseMode, schema, corruptCol)
      // FailureSafeParser reuses one row for corrupt-record output: copy.
      val rows = records.flatMap { r =>
        parser.parse(Option(r.getUTF8String(0)).map(_.toString).orNull).map(_.copy())
      }
      classic.Dataset.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
    }
  }

  private def infer(records: Seq[InternalRow], options: JSONOptions): StructType = {
    val inference = new JsonInferSchema(options)
    val factory = options.buildJsonFactory()
    val merge = JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord,
      options.parseMode)
    // The options are the reader's defaults: PERMISSIVE mode and no
    // encoding, so a record that fails to parse types as the
    // corrupt-record column alone.
    val malformed = StructType(Array(StructField(options.columnNameOfCorruptRecord, StringType)))
    val root = records.foldLeft(StructType(Nil): DataType) { (acc, record) =>
      val field =
        try {
          Utils.tryWithResource(CreateJacksonParser.internalRow(factory, record)) { p =>
            p.nextToken()
            inference.inferField(p)
          }
        } catch {
          case _: RuntimeException | _: JsonProcessingException |
              _: MalformedInputException | _: CharConversionException => malformed
        }
      merge(acc, field)
    }
    // canonicalizeType erases empty structs, the empty root included.
    inference.canonicalizeType(root, options)
      .collect { case s: StructType => s }
      .getOrElse(StructType(Nil))
  }
}
