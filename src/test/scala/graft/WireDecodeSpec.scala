package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.store.Wire

/** `Wire.fromJsonRecords` decodes a driver-resident record set on the
  * driver. That route must give exactly what `spark.read.json` gives for
  * the same input: the same schema and the same rows, in order.
  */
class WireDecodeSpec extends SparkSpec {

  private def assertParity(records: String*): Unit = {
    import spark.implicits._
    val ds = spark.createDataset(records)
    val local = Wire.fromJsonRecords(spark, ds)
    assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation],
      "a driver-resident record set decodes on the driver")
    val distributed = spark.read.json(ds)
    assert(local.schema == distributed.schema,
      s"${local.schema.treeString} vs ${distributed.schema.treeString}")
    assert(local.collect().toSeq == distributed.collect().toSeq)
  }

  test("nested objects and arrays") {
    assertParity("""[{"a":{"b":1,"c":[1,2,3]},"d":[{"e":"x"},{"e":"y","f":true}]},""" +
      """{"a":{"b":2,"c":[]},"d":[],"g":[[1.5],[2]]}]""")
  }

  test("nulls, and a column that is null in every row") {
    assertParity("""[{"a":1,"n":null,"s":"x"},{"a":null,"n":null},{"n":null,"s":null}]""")
  }

  test("int/double mix across rows widens to double") {
    assertParity("""[{"v":1,"w":2.5},{"v":2.5,"w":3},{"v":-7,"w":null}]""")
  }

  test("integers beyond Long") {
    assertParity("""[{"big":123456789012345678901234567890,"n":1},""" +
      """{"big":-98765432109876543210,"n":9223372036854775807}]""")
  }

  test("epoch-millis numbers, as the wire encodes timestamps") {
    assertParity("""[{"ts":1704067200000,"id":1},{"ts":1709294400123,"id":2}]""")
  }

  test("unicode in values and names") {
    assertParity("""[{"s":"héllo 世界 😀","kéy":"ü"},""" +
      "{\"s\":\"raw é 世界 😀\",\"kéy\":null}]")
  }

  test("an empty array, an empty object and an empty dataset") {
    assertParity("[]")
    assertParity("[{}]")
    assertParity()
  }

  test("a root object is one row") {
    assertParity("""{"a":1,"b":"x","c":[true,false]}""")
  }

  test("a multi-row dataset folds its records' schemas") {
    assertParity("""{"a":1}""", """[{"a":2},{"b":"x"}]""", """{"a":3.5,"c":{"d":1}}""", "[]")
  }

  test("a malformed payload yields the corrupt-record column") {
    assertParity("not records json")
    assertParity("""[{"a":1},""", """{"a":2}""")
    assertParity("42", """{"a":1}""", """[1,2]""")
    val corrupt = spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record")
    import spark.implicits._
    assert(Wire.fromJsonRecords(spark, spark.createDataset(Seq("not records json")))
      .columns.toSeq == Seq(corrupt))
  }
}
