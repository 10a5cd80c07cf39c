package graft.operators

import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.OrderedExec

/** Row-level (DataFrame) order-sensitive operators. A "stream" here is a
  * DataFrame with a `seq: Long` column.
  *
  * These are adapters only: every operator runs on the one prefix-carry
  * kernel in `graft.core.OrderedExec`, the same code path as the typed
  * layer (prefix-combine for running aggregates, boundary exchange for
  * bounded lookback, counts + offsets for dense ordinals). The built-in
  * operators stay on Spark's internal rows: each output row is one
  * `UnsafeProjection` over `JoinedRow(input, carry)`. Only a user closure
  * ([[mapWithCarry]]) sees `Row`s, decoded and encoded at its boundary.
  * No scheme ever brings rows-proportional data to the driver; the only
  * serial state is O(numPartitions).
  */
object RowExec {

  /** Per-task output builder for `outSchema` = left's columns followed by
    * right's: an `UnsafeProjection` over `JoinedRow(left, right)`.
    */
  private def joiner(outSchema: StructType): (InternalRow, InternalRow) => InternalRow = {
    val proj = UnsafeProjection.create(outSchema)
    val joined = new JoinedRow
    (l, r) => proj(joined(l, r))
  }

  /** Distributed running sum of a Long-valued expression, appended as
    * `outCol` (conduino `scan (+)`, reference `Combinators.hs:362-371`,
    * over a columnar stream). Nulls contribute 0.
    */
  def runningSumLong(df: DataFrame, valueExpr: Column, outCol: String): DataFrame = {
    val withV = df.withColumn("__v", valueExpr.cast(LongType))
    val idx = withV.schema.fieldIndex("__v")
    val outSchema = withV.schema.add(outCol, LongType, nullable = false)
    def v(r: InternalRow): Long = if (r.isNullAt(idx)) 0L else r.getLong(idx)
    OrderedExec.prefixCarry(withV, Seq(col("seq")), outSchema)(_.foldLeft(0L)(_ + v(_)))(
      _.scanLeft(0L)(_ + _)) { (carry, it) =>
      val out = joiner(outSchema)
      val acc = new SpecificInternalRow(Seq(LongType))
      acc.setLong(0, carry)
      it.map { r => acc.setLong(0, acc.getLong(0) + v(r)); out(r, acc) }
    }._1.drop("__v")
  }

  /** Boundary exchange over Rows: run `f(carry, partition)` per sorted
    * partition, carry = last `tailN` rows globally before the partition.
    */
  def mapWithCarry(df: DataFrame, tailN: Int, outSchema: StructType)(
      f: (List[Row], Iterator[Row]) => Iterator[Row]): DataFrame =
    OrderedExec.mapWithCarry(df, tailN, ExpressionEncoder(outSchema))(f)._1

  /** pairs (reference `Combinators.hs:379-385`) at Row level: each row
    * paired with the previous row's `valueCols`, prefixed `prev_`; the
    * first row of the stream is dropped. Boundary exchange, lookback 1.
    */
  def pairsDf(df: DataFrame, valueCols: Seq[String]): DataFrame = {
    val base = df.schema
    val idxs = valueCols.map(base.fieldIndex)
    val prevFields = valueCols.map { c =>
      val f = base(base.fieldIndex(c)); StructField(s"prev_$c", f.dataType, nullable = true)
    }
    val outSchema = StructType(base.fields.toSeq ++ prevFields)
    // over JoinedRow(row, previous row): all of the row, then the
    // previous row's value columns
    val exprs = base.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) } ++
      idxs.map(i => BoundReference(base.size + i, base(i).dataType, nullable = true))
    OrderedExec.boundaryExchange(df, 1, outSchema) { (carry, it) =>
      val proj = UnsafeProjection.create(exprs)
      val joined = new JoinedRow
      var prev = carry.lastOption.orNull
      if (prev == null && it.hasNext) prev = it.next()
      it.map { r => val o = proj(joined(r, prev)); prev = r; o }
    }._1
  }

  /** consecutive (reference `Combinators.hs:404-410`) at Row level: for
    * each row, the array of the previous ≤ n values of `valueCol` (the
    * window BEFORE the current element — the reference's off-by-one). The
    * reference also emits one final window after the last element; the
    * columnar form omits it (the typed `Pipes.consecutive` keeps it), so
    * output is exactly one row per input row — SQL-window expressible.
    */
  def consecutiveDf(df: DataFrame, valueCol: String, n: Int): DataFrame = {
    require(n >= 1)
    val base = df.schema
    val vIdx = base.fieldIndex(valueCol)
    val elemType = base(vIdx).dataType
    val outSchema = StructType(base.fields.toSeq :+
      StructField("window", ArrayType(elemType, containsNull = false), nullable = false))
    OrderedExec.boundaryExchange(df, n, outSchema) { (carry, it) =>
      val out = joiner(outSchema)
      val window = new GenericInternalRow(1)
      var win = carry.map(_.get(vIdx, elemType)).toVector.takeRight(n)
      it.map { r =>
        window.update(0, new GenericArrayData(win))
        val res = out(r, window)
        win = (win :+ r.get(vIdx, elemType)).takeRight(n)
        res
      }
    }._1
  }

  /** Dense ordinals 0..n-1 by `sortCols`, replacing/adding `seq` — the
    * two-phase ordinal (per-partition counts + driver prefix sum, no
    * global window) at Row level.
    */
  def withDenseSeq(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val noSeq = if (df.columns.contains("seq")) df.drop("seq") else df
    val outSchema = StructType(StructField("seq", LongType, nullable = false) +: noSeq.schema.fields.toSeq)
    OrderedExec.denseOrdinals(noSeq, sortCols, outSchema) { () =>
      val out = joiner(outSchema)
      val seq = new SpecificInternalRow(Seq(LongType))
      (k, r) => { seq.setLong(0, k); out(seq, r) }
    }
  }
}
