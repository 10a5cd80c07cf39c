package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Distributed execution of order-sensitive operators: the one kernel
  * that both the typed `Dataset[Elem[A]]` layer and the Row layer
  * (`graft.operators.RowExec`) run on.
  *
  * The reference's stateful combinators (scan/mapAccum/pairs/consecutive,
  * reference `src/Data/Conduino/Combinators.hs:344-410`) are sequential by
  * nature. A naive Spark port would single-partition the stream. Instead,
  * every ordered operator is one scheme, [[prefixCarry]]: range-partition
  * by the order columns, summarize each partition in parallel (one job,
  * O(numPartitions) summaries — not rows — to the driver), scan the
  * summaries into per-partition carry-ins, broadcast them, and finish
  * each partition locally in a second parallel pass. It comes in three
  * instances:
  *
  *  1. '''Prefix-combine scan''' (folds whose accumulator merges):
  *     summary = the partition's fold, carry = the prefix combine of the
  *     folds before it. The classic parallel prefix sum on top of Spark.
  *
  *  2. '''Boundary exchange''' (bounded-lookback ops — pairs, sliding
  *     windows of n): summary = the partition's last n elements, carry =
  *     the last n elements before the partition ([[tailCarries]]).
  *
  *  3. '''Dense ordinals''': summary = row count, carry = offset.
  *
  * One materialization: the sorted copy. The kernel runs on Spark's
  * internal rows; the sorted input is stored once, as `UnsafeRow` copies,
  * filled by the summary job itself. The finish is lazy: it reads that
  * copy inside whichever job consumes the output, so every action on the
  * output sees the same order (ties included) without sorting again.
  * Typed closures decode and encode at the closure boundary with their
  * encoders ([[decoder]]), once per row per pass.
  *
  * None sorts the stream onto one partition; the only serial state is
  * O(numPartitions) on the driver.
  */
private[graft] object OrderedExec {

  /** Range-partition by `by` into `numShufflePartitions` ranges and sort
    * within partitions.
    */
  def sorted[T](ds: Dataset[T], by: Seq[Column] = Seq(col("seq"))): Dataset[T] =
    ds.repartitionByRange(ds.sparkSession.sessionState.conf.numShufflePartitions, by: _*)
      .sortWithinPartitions(by: _*)

  /** One job: `summarize` every partition; results in partition order
    * (`collect` concatenates per-partition results by partition index).
    * Collected as `Any` so callers need no `ClassTag[P]`.
    */
  def partials[T, P](rdd: RDD[T])(summarize: Iterator[T] => P): Vector[P] =
    rdd.mapPartitions(it => Iterator[Any](summarize(it))).collect()
      .iterator.map(_.asInstanceOf[P]).toVector

  /** The prefix-carry kernel. Sorts `in` by `by` into a copy of its
    * internal rows, marked for checkpointing before the summary job, so
    * that job sorts, fills the copy and summarizes each partition at
    * once. `carries` turns the n per-partition summaries into n+1
    * carries (carry-in of partition i at index i, the carry past the last
    * partition at index n). `finish(carryIn, partition)` produces each
    * output partition of rows laid out as `outSchema`; it runs lazily,
    * over the copy, in the jobs that consume the output. If the summary
    * job (or `carries`) throws, the copy is released; otherwise it lives
    * as long as the output does. Every row of the copy is its own object,
    * so `summarize` and `finish` may keep references to rows.
    *
    * Returns the output and the final carry.
    */
  def prefixCarry[T, P, C](in: Dataset[T], by: Seq[Column], outSchema: StructType)(
      summarize: Iterator[InternalRow] => P)(
      carries: Vector[P] => Vector[C])(
      finish: (C, Iterator[InternalRow]) => Iterator[InternalRow]): (DataFrame, C) = {
    val spark = in.sparkSession
    val copy = Materialize.checkpointRdd(spark, sorted(in, by).queryExecution.toRdd.map(_.copy()))
    val cs =
      try carries(partials(copy)(summarize))
      catch { case e: Throwable => copy.unpersist(blocking = false); throw e }
    val bCarries = spark.sparkContext.broadcast(cs)
    val out = copy.mapPartitionsWithIndex((i, it) => finish(bCarries.value(i), it))
    (GraftColumnBridge.internalDataFrame(spark, out, outSchema), cs.last)
  }

  /** `in`'s encoder, bound to the internal rows of `in`'s own plan: the
    * decoder of the kernel's rows at a typed closure boundary. Decoders
    * and encoders are not thread-safe, so each task creates its own
    * deserializer and serializer from them.
    */
  def decoder[T](in: Dataset[T]): ExpressionEncoder[T] =
    encoderFor(in.encoder).resolveAndBind(in.queryExecution.analyzed.output)

  /** Boundary carries: carry-in of partition i = the last `n` elements of
    * the concatenated tails of partitions 0..i-1. Valid because each tail
    * keeps at least the globally needed suffix.
    */
  private def tailCarries[T](tails: Vector[List[T]], n: Int): Vector[List[T]] =
    tails.scanLeft(List.empty[T])((acc, t) => (acc ++ t).takeRight(n))

  /** Boundary exchange over a `seq`-ordered stream of internal rows: run
    * `f(carryIn, partition)` over each sorted partition, where carryIn is
    * the last `tailN` rows globally before the partition. Also returns
    * the global tail (the last ≤ tailN rows of the whole stream).
    */
  def boundaryExchange[T](in: Dataset[T], tailN: Int, outSchema: StructType)(
      f: (List[InternalRow], Iterator[InternalRow]) => Iterator[InternalRow])
      : (DataFrame, List[InternalRow]) = {
    require(tailN >= 0)
    prefixCarry(in, Seq(col("seq")), outSchema)(lastN(_, tailN))(tailCarries(_, tailN))(f)
  }

  /** The last ≤ n elements of a partition (ring buffer). */
  private def lastN[T](it: Iterator[T], n: Int): List[T] = {
    val buf = new scala.collection.mutable.ArrayDeque[T]()
    it.foreach { t => buf.append(t); if (buf.size > n) buf.removeHead() }
    buf.toList
  }

  /** Dense ordinals 0..n-1 in `by` order, from per-partition counts and
    * their driver prefix sum (no global window). `stamp()` runs once per
    * task and returns the per-row `(ordinal, row) => output row`.
    */
  def denseOrdinals[T](in: Dataset[T], by: Seq[Column], outSchema: StructType)(
      stamp: () => (Long, InternalRow) => InternalRow): DataFrame =
    prefixCarry(in, by, outSchema)(countRows)(_.scanLeft(0L)(_ + _)) { (offset, it) =>
      val f = stamp()
      var k = offset
      it.map { r => val u = f(k, r); k += 1; u }
    }._1

  /** Long loop, not Iterator.size: `.size` returns Int and wraps negative
    * past 2^31 rows per partition — inside the design envelope at
    * 100 TB — corrupting every downstream ordinal.
    */
  private def countRows[T](it: Iterator[T]): Long = {
    var n = 0L
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  /** Running fold with mergeable accumulators: emits the accumulator after
    * every element (conduino `scan`, reference `Combinators.hs:362-371`).
    * Requires `combine` to be the monoid-homomorphism merge of `step`
    * (fold(xs ++ ys) == combine(fold(xs), fold(ys))).
    */
  def scanCombine[A, B: TypeTag](in: Dataset[Elem[A]], zero: B,
                                 step: (B, A) => B,
                                 combine: (B, B) => B): Dataset[Elem[B]] = {
    val dec = decoder(in)
    val out = Elem.enc[B]
    val enc = encoderFor(out)
    prefixCarry(in, Seq(col("seq")), enc.schema)(
      _.map(dec.createDeserializer()).foldLeft(zero)((b, e) => step(b, e.value)))(
      _.scanLeft(zero)(combine)) { (carry, it) =>
      val (d, s) = (dec.createDeserializer(), enc.createSerializer())
      var acc = carry
      it.map { r => val e = d(r); acc = step(acc, e.value); s(Elem(e.seq, acc)) }
    }._1.as(out)
  }

  /** Boundary exchange over decoded elements: [[boundaryExchange]] with
    * `in`'s elements (carries included) decoded at the closure boundary
    * and the results encoded by `out`.
    */
  def mapWithCarry[T, U](in: Dataset[T], tailN: Int, out: Encoder[U])(
      f: (List[T], Iterator[T]) => Iterator[U]): (Dataset[U], List[T]) = {
    val dec = decoder(in)
    val enc = encoderFor(out)
    val (df, tail) = boundaryExchange(in, tailN, enc.schema) { (carry, it) =>
      val d = dec.createDeserializer()
      f(carry.map(d), it.map(d)).map(enc.createSerializer())
    }
    (df.as(out), tail.map(dec.createDeserializer()))
  }

  /** Sequential fallback for arbitrary (non-mergeable) state transitions:
    * one sorted partition, one pass. Correct for any closure; only for
    * small streams or when the user's function genuinely cannot merge.
    */
  def mapOrderedSequential[A, B: TypeTag](in: Dataset[Elem[A]])(
      f: Iterator[Elem[A]] => Iterator[Elem[B]]): Dataset[Elem[B]] = {
    implicit val encB: Encoder[Elem[B]] = Elem.enc[B]
    in.repartitionByRange(1, col("seq"))
      .sortWithinPartitions(col("seq"))
      .mapPartitions(f)
  }
}
