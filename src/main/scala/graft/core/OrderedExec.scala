package graft.core

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql._
import org.apache.spark.sql.functions._

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

  /** The prefix-carry kernel. Sorts `in` by `by` and persists the sorted
    * copy; `carries` turns the n per-partition summaries into n+1 carries
    * (carry-in of partition i at index i, the carry past the last
    * partition at index n); `finish(carryIn, partition)` produces each
    * output partition; `toDataset` wraps the output RDD, which is then
    * checkpointed. The sorted copy is released on every exit path,
    * including a throwing closure or a failed checkpoint job.
    *
    * Returns the checkpointed output and the final carry.
    */
  def prefixCarry[T, P, C, U: ClassTag](in: Dataset[T], by: Seq[Column])(
      summarize: Iterator[T] => P)(
      carries: Vector[P] => Vector[C])(
      finish: (C, Iterator[T]) => Iterator[U])(
      toDataset: RDD[U] => Dataset[U]): (Dataset[U], C) = {
    val s = sorted(in, by).persist()
    try {
      val rdd = s.rdd
      val cs = carries(partials(rdd)(summarize))
      val bCarries = in.sparkSession.sparkContext.broadcast(cs)
      val out = rdd.mapPartitionsWithIndex((i, it) => finish(bCarries.value(i), it))
      (Materialize.checkpoint(toDataset(out)), cs.last)
    } finally s.unpersist()
  }

  /** Boundary carries: carry-in of partition i = the last `n` elements of
    * the concatenated tails of partitions 0..i-1. Valid because each tail
    * keeps at least the globally needed suffix.
    */
  private def tailCarries[T](tails: Vector[List[T]], n: Int): Vector[List[T]] =
    tails.scanLeft(List.empty[T])((acc, t) => (acc ++ t).takeRight(n))

  /** Boundary exchange over a `seq`-ordered stream: run `f(carryIn,
    * partition)` over each sorted partition, where carryIn is the last
    * `tailN` elements globally before the partition. Also returns the
    * global tail (the last ≤ tailN elements of the whole stream).
    */
  def boundaryExchange[T, U: ClassTag](in: Dataset[T], tailN: Int)(
      f: (List[T], Iterator[T]) => Iterator[U])(
      toDataset: RDD[U] => Dataset[U]): (Dataset[U], List[T]) = {
    require(tailN >= 0)
    prefixCarry(in, Seq(col("seq")))(lastN(_, tailN))(tailCarries(_, tailN))(f)(toDataset)
  }

  /** The last ≤ n elements of a partition (ring buffer). */
  private def lastN[T](it: Iterator[T], n: Int): List[T] = {
    val buf = new scala.collection.mutable.ArrayDeque[T]()
    it.foreach { t => buf.append(t); if (buf.size > n) buf.removeHead() }
    buf.toList
  }

  /** Dense ordinals 0..n-1 in `by` order: `stamp(ordinal, element)` per
    * element, from per-partition counts and their driver prefix sum (no
    * global window).
    */
  def denseOrdinals[T, U: ClassTag](in: Dataset[T], by: Seq[Column])(
      stamp: (Long, T) => U)(toDataset: RDD[U] => Dataset[U]): Dataset[U] =
    prefixCarry(in, by)(countRows)(_.scanLeft(0L)(_ + _)) { (offset, it) =>
      var k = offset
      it.map { t => val u = stamp(k, t); k += 1; u }
    }(toDataset)._1

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
                                 combine: (B, B) => B): Dataset[Elem[B]] =
    prefixCarry(in, Seq(col("seq")))(_.foldLeft(zero)((b, e) => step(b, e.value)))(
      _.scanLeft(zero)(combine)) { (carry, it) =>
      var acc = carry
      it.map { e => acc = step(acc, e.value); Elem(e.seq, acc) }
    }(in.sparkSession.createDataset(_)(Elem.enc[B]))._1

  /** Typed boundary exchange: [[boundaryExchange]] over `Elem[A]`. */
  def mapWithCarry[A, B: TypeTag](in: Dataset[Elem[A]], tailN: Int)(
      f: (List[Elem[A]], Iterator[Elem[A]]) => Iterator[Elem[B]])
      : (Dataset[Elem[B]], List[Elem[A]]) =
    boundaryExchange(in, tailN)(f)(in.sparkSession.createDataset(_)(Elem.enc[B]))

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
