package graft

/** Guards against silent fixture regeneration: round 4 lost 38 queries when
  * `events.ts` changed physical type underneath the loaders. A drift now
  * fails HERE with a message naming the table.column and the offending type,
  * instead of as N analysis exceptions scattered across unrelated suites.
  */
class SchemaContractSpec extends SparkSpec {
  test("fixture schemas match the contract (sf0.001)") {
    val drift = Tables.schemaDrift(spark, sf0001)
    assert(drift.isEmpty, "\nFIXTURE SCHEMA DRIFT:\n" + drift.mkString("\n"))
  }

  test("a table's schema is inferred once per file version: a fresh session's read runs no job") {
    val first = Tables.documents(spark.newSession(), sf0001).schema
    val fresh = spark.newSession()
    val (schema, trace) = JobTrace.run(spark.sparkContext)(Tables.documents(fresh, sf0001).schema)
    assert(trace.jobs === 0, "the second read inferred the schema again")
    assert(schema === first)
  }

  test("events loader normalizes ts to TimestampType across fixture generations") {
    val ts = Tables.events(spark, sf0001).schema("ts").dataType
    assert(ts == org.apache.spark.sql.types.TimestampType,
      s"events.ts should normalize to TimestampType, got $ts")
  }
}
