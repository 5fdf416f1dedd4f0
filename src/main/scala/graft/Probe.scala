package graft

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.UserDefinedFunction

/** Driver table → per-row kernel: the one wiring behind every "collect
  * the small side, then loop over it per row" operator (the centroid
  * argmins, PQ/ADC scoring, eval-set decontamination, the bigram
  * census score, the unigram-LM Viterbi passes).
  *
  * `table` is shipped once as a broadcast variable; the returned UDF,
  * shown as `name` in plans, reads the executor's copy on each row and
  * hands it to `kernel` with the row's argument. A call site therefore
  * keeps only two things: how it shapes its table on the driver, and
  * its loop. The kernel must reach the table only through its first
  * parameter — a table captured by the closure instead is serialized
  * into the task binary of every stage that runs it.
  *
  * The collect that builds `table` stays the caller's: its size is
  * bounded by `spark.driver.maxResultSize`, like any collect. */
object Probe {
  def udf[T: ClassTag, A: TypeTag, R: TypeTag](spark: SparkSession, name: String,
      table: T)(kernel: (T, A) => R): UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(table)
    org.apache.spark.sql.functions.udf((a: A) => kernel(bc.value, a)).withName(name)
  }
}
