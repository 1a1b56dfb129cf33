package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.{call_function, lit}

/** The one policy for a driver-held lookup table: the kernel-or-join
  * operators ([[Dedup.containmentPairs]], [[Dedup.editDistancePairsQGram]],
  * [[TextOps.bm25Scores]], [[Similarity.exactCosineEdges]]) pull a small
  * table to the driver and ship it back inside the plan as a literal
  * their codegen kernel references; when the table does not fit they
  * take an exact join instead, with identical output.
  *
  * Why 1 MiB in a plan: the table travels to the driver once and then
  * inside EVERY task's serialized closure (the kernel references it), so
  * it is paid per task, not once — and Spark itself warns when a task
  * binary passes ~1,000 KiB (`TaskSetManager.TASK_SIZE_TO_WARN_KIB`). A
  * table past that size belongs to a corpus that has outgrown the kernel
  * shape anyway: word-shingle and embedding tables grow with the corpus,
  * so at 100 TB the join is the expected path. The same bound caps the
  * frequency aggregates' per-task buffers (16 B a key). Both entry
  * points return `None` past the budget, and neither ships the driver
  * more than the budget.
  */
object DriverTable {

  /** The one budget: bytes of table a kernel plan may carry. */
  val MaxBytes: Long = 1L << 20

  /** Distinct-key cap of the frequency aggregates: a (key, count) pair
    * is 16 bytes, so a full table (and every task buffer) is ≤ MaxBytes. */
  val MaxKeys: Int = (MaxBytes / 16).toInt

  /** Fit a corpus frequency table with the bounded map aggregate `fn`
    * (`long_freq_agg` / `qgram_freq_agg`, its own arguments in `args`,
    * the key cap appended here) as ONE `agg(...).head()` job: (keys
    * ascending, aligned counts), or `None` when the distinct keys
    * overflowed [[MaxKeys]] anywhere. */
  def freqs(df: DataFrame, fn: String, args: Column*): Option[(Seq[Long], Seq[Long])] = {
    val row = df.agg(call_function(fn, (args :+ lit(MaxKeys)): _*)).head()
    if (row.isNullAt(0)) None
    else Some((row.getStruct(0).getSeq[Long](0), row.getStruct(0).getSeq[Long](1)))
  }

  /** Pull `df`'s rows when there are at most `maxRows` of them and their
    * bytes — as Spark holds them (`UnsafeRow`: the values plus a few
    * header words) — sum to at most [[MaxBytes]]; `None` otherwise. One
    * job, one task: the caps are checked on the executor as rows stream
    * out of the coalesced partition, and the task stops at the first row
    * past either cap, so an oversized frame is never read further and the
    * driver receives at most the budget (plus the task result's framing). */
  def rows(df: DataFrame, maxRows: Int): Option[Array[Row]] = {
    val shipped = df.coalesce(1).queryExecution.toRdd.mapPartitions { it =>
      val kept = ArrayBuffer.empty[Array[Byte]]
      var bytes = 0L
      var fits = true
      while (fits && it.hasNext) {
        val b = it.next().asInstanceOf[UnsafeRow].copy().getBytes
        bytes += b.length
        fits = kept.size < maxRows && bytes <= MaxBytes
        if (fits) kept += b
      }
      Iterator((kept.toArray, fits))
    }.collect()
    if (!shipped.forall(_._2)) None
    else {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      Some(shipped.flatMap(_._1).map { b =>
        val u = new UnsafeRow(df.schema.length)
        u.pointTo(b, b.length)
        toRow(u).asInstanceOf[Row]
      })
    }
  }
}
