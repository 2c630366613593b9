package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.Native

/** Spark's internal runtime-row-filter bloom machinery
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, the expressions
  * `InjectRuntimeFilter` plants under shuffle joins) surfaced as Columns —
  * they are not in the public FunctionRegistry, but the Catalyst classes
  * are public, so they are built directly through [[Native]].
  *
  * Scale role: a decontamination / semi-join pre-filter. When the build
  * side outgrows the broadcast threshold, a bloom of its 8-byte shingle
  * hashes stays sketch-sized (numBits/8 bytes) and drops ~all
  * non-matching probe rows before the exact join; false positives are
  * removed by the exact verify, false negatives cannot occur, so results
  * are bit-identical to the exact path (same DuckDB oracle).
  */
object Bloom {

  /** Aggregate Column: the serialized bloom filter of the long hashes `h`. */
  def aggregate(h: Column, expectedItems: Long, numBits: Long): Column =
    Native.column(new BloomFilterAggregate(Native.expr(h),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())

  /** Serialized bloom filter of `df(hashCol)` (long hashes), built by one
    * distributed aggregate and returned to the driver — the sketch-sized
    * broadcast-literal discipline (same as the IVF centroid model): the
    * driver holds numBits/8 bytes, never the hash set.
    */
  def fit(df: DataFrame, hashCol: String, expectedItems: Long,
      numBits: Long): Array[Byte] =
    df.agg(aggregate(col(hashCol), expectedItems, numBits).as("bf"))
      .head().getAs[Array[Byte]](0)

  /** Probe column: true when `h` may be in the fitted filter (exact
    * verification must follow; no false negatives).
    */
  def mightContain(bloom: Array[Byte], h: Column): Column =
    Native.column(BloomFilterMightContain(Literal(bloom), Native.expr(h)))
}
