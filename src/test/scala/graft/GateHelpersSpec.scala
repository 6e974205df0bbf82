package graft

import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

class GateHelpersSpec extends SparkSpec {
  test("withTwin widens an int id to long in both copies") {
    import spark.implicits._
    val docs = Seq((1, "a"), (2, "b")).toDF("doc_id", "text")
    assert(docs.schema("doc_id").dataType == IntegerType)
    val twin = GateHelpers.withTwin(docs, "doc_id", 10000000000L)
    assert(twin.schema == StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true))))
    assert(twin.as[(Long, String)].collect().sorted.toSeq == Seq(
      (1L, "a"), (2L, "b"), (10000000001L, "a"), (10000000002L, "b")))
  }
}
