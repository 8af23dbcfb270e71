package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic
import org.apache.spark.sql.types.StructType

/** The internal-API doors the engine needs: building a DataFrame
  * directly over an `RDD[InternalRow]`, and dropping an RDD's cached
  * blocks by id.
  *
  * `Prefix.orderStats` hands corpus-sized data through an RDD scan pass
  * (genuine per-partition imperative logic — the two-pass prefix scan).
  * The public spelling, `Dataset.rdd` + `createDataFrame(rowRDD,
  * schema)`, pays TWO full external-row conversions per pass:
  * InternalRow → Row (boxing every field, `UTF8String` → `String`) on
  * the way out and Row → InternalRow (converter dispatch per field) on
  * the way back — measured at 2-7× the whole query on the Prefix-
  * rewritten surface. `SparkSession.internalCreateDataFrame` skips both
  * but is `private[sql]`, hence this shim package — the standard
  * connector-library spelling (spark-avro and the Hive integration do
  * the same). Confined to two methods so the internal-API surface stays
  * auditable.
  */
object InternalBridge {

  /** `spark.internalCreateDataFrame(rdd, schema)` — a batch (non-
    * streaming) LogicalRDD leaf. Rows may be reused by the producer:
    * `RDDScanExec` re-projects every row through its own
    * `UnsafeProjection` before anything downstream buffers it
    * (ExistingRDD's contract for exactly this constructor).
    */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** `sc.unpersistRDD(rddId, blocking = false)`: what `RDD.unpersist`
    * does, minus its WARN for a locally checkpointed RDD ("its lineage has
    * been truncated"). Called only by `graft.operators.Iterate.releaseRDD`,
    * which drops superseded loop state, memos and solver supersteps
    * eagerly rather than through the `ContextCleaner`; their lineage is
    * truncated on purpose, so the warning would be noise.
    */
  def unpersistRDD(sc: SparkContext, rddId: Int): Unit =
    sc.unpersistRDD(rddId, blocking = false)
}
