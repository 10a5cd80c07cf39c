package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.functions._

/** A fold-shaped sink: zero / step / optional merge / finish.
  *
  * Port of the reference's aggregation sinks (`foldl`/`fold`/`foldMap`,
  * reference `src/Data/Conduino/Combinators.hs:468-509`). When `combine` is
  * present (the accumulator merges — associative decomposition of the
  * fold), execution is distributed: each sorted partition folds in
  * parallel, the O(numPartitions) partials merge in order on the driver.
  * Without `combine` the fold is inherently sequential and runs through a
  * driver-side ordered iterator — correct for any closure, for modest
  * streams (exactly the reference's semantics, which are single-threaded to
  * begin with; reference `src/Data/Conduino.hs:210-215`).
  *
  * FoldSinks compose applicatively — `Sinks.zip` feeds one stream scan to
  * two folds at once, which is conduino's `zipSink` (reference
  * `src/Data/Conduino.hs:654-660`): one pass, two results.
  */
final case class FoldSink[A, B, R](
    zero: B,
    step: (B, A) => B,
    combine: Option[(B, B) => B],
    finish: B => R) extends Sink[A, R] {

  def apply(in: SStream[A]): R = combine match {
    case Some(c) =>
      val parts = OrderedExec.partials(OrderedExec.sorted(in.ds).rdd)(
        _.foldLeft(zero)((b, e) => step(b, e.value)))
      finish(parts.foldLeft(zero)(c))
    case None =>
      finish(in.toLocalIterator.foldLeft(zero)(step))
  }

  override def map[S](f: R => S): FoldSink[A, B, S] =
    copy(finish = finish.andThen(f))

  /** ZipSink Applicative `<*>` (reference `src/Data/Conduino.hs:675-683`):
    * product of two folds over ONE stream scan.
    */
  def zip[B2, R2](other: FoldSink[A, B2, R2]): FoldSink[A, (B, B2), (R, R2)] =
    Sinks.zip(this, other)

  /** liftA2 over the one-scan product. */
  def zipWith[B2, R2, S](other: FoldSink[A, B2, R2])(f: (R, R2) => S): FoldSink[A, (B, B2), S] =
    zip(other).map { case (r1, r2) => f(r1, r2) }
}

/** A sink that stops consuming before end-of-stream (head, take-n).
  * Its termination point is first-class — that is what `altSink`'s
  * first-to-finish race (reference `src/Data/Conduino.hs:664-670`)
  * arbitrates on.
  */
trait PrefixSink[A, R] extends Sink[A, R] {
  /** seq of the last element consumed before finishing; Long.MaxValue if
    * this sink only finishes at end-of-stream.
    */
  def terminationSeq(in: SStream[A]): Long

  /** ZipSink Alternative `<|>` (reference `src/Data/Conduino.hs:684-687`):
    * the first-to-finish race, left-biased on ties.
    */
  def alt(other: PrefixSink[A, R]): Sink[A, R] = Sinks.alt(this, other)
}

object Sinks {

  /** foldl (reference `Combinators.hs:480-486`) — general closure,
    * sequential. Use `foldlCombine` when the fold decomposes.
    */
  def foldl[A, B](zero: B)(step: (B, A) => B): FoldSink[A, B, B] =
    FoldSink(zero, step, None, identity)

  /** foldl with a mergeable accumulator — the distributed path. */
  def foldlCombine[A, B](zero: B)(step: (B, A) => B)(c: (B, B) => B): FoldSink[A, B, B] =
    FoldSink(zero, step, Some(c), identity)

  /** foldr (reference `Combinators.hs:468-474`): right fold == left fold
    * over the reversed stream (lazy/short-circuit use is out of scope,
    * SURVEY.md §2.6). Sequential driver-side path — correct for ANY step
    * closure but pulls the stream through the driver; use
    * [[foldrCombine]] when the fold decomposes.
    */
  def foldr[A, B](zero: B)(step: (A, B) => B): Sink[A, B] = new Sink[A, B] {
    def apply(in: SStream[A]): B = {
      import scala.jdk.CollectionConverters._
      in.ds.orderBy(col("seq").desc).toLocalIterator.asScala
        .foldLeft(zero)((b, e) => step(e.value, b))
    }
  }

  /** foldr with a mergeable accumulator — the distributed right fold
    * (mirror of [[foldlCombine]]'s prefix-combine, over seq-ascending
    * range partitions folded from the right). Contract: `c` associative
    * with `zero` as identity, and
    * `foldr(zero, xs ++ ys) == c(foldr(zero, xs), foldr(zero, ys))`
    * (i.e. the step is the action of a monoid `c` on suffixes). Each
    * partition right-folds locally in parallel; the O(numPartitions)
    * partials merge in seq order on the driver — driver traffic is one
    * partial per partition, never the stream.
    */
  def foldrCombine[A, B](zero: B)(step: (A, B) => B)(c: (B, B) => B): Sink[A, B] =
    new Sink[A, B] {
      def apply(in: SStream[A]): B = {
        // right fold needs the partition's tail first: materialize the
        // (bounded, range-partitioned) partition and foldRight it
        val parts = OrderedExec.partials(OrderedExec.sorted(in.ds).rdd)(
          _.toIndexedSeq.foldRight(zero)((e, b) => step(e.value, b)))
        parts.foldRight(zero)(c)
      }
    }

  /** fold (reference `Combinators.hs:490-492`): monoidal concat. */
  def fold[A](zero: A)(combine: (A, A) => A): FoldSink[A, A, A] =
    FoldSink(zero, combine, Some(combine), identity)

  /** foldMap (reference `Combinators.hs:507-509`). */
  def foldMap[A, M](f: A => M, zero: M)(combine: (M, M) => M): FoldSink[A, M, M] =
    FoldSink(zero, (m: M, a: A) => combine(m, f(a)), Some(combine), identity)

  /** sinkList (reference `Combinators.hs:516-518`). */
  def sinkList[A]: Sink[A, List[A]] = new Sink[A, List[A]] {
    def apply(in: SStream[A]): List[A] = in.toList
  }

  /** sinkNull (reference `Combinators.hs:550-553`): drain, discard. */
  def sinkNull[A]: Sink[A, Unit] = new Sink[A, Unit] {
    def apply(in: SStream[A]): Unit = in.ds.foreach((_: Elem[A]) => ())
  }

  /** count — not in the reference as such but the natural forcing sink. */
  def count[A]: Sink[A, Long] = new Sink[A, Long] {
    def apply(in: SStream[A]): Long = in.ds.count()
  }

  /** last (reference `Combinators.hs:558-564`): final element. Distributed
    * as max-by-seq (no global sort: partial max per partition).
    */
  def last[A]: Sink[A, Option[A]] = new Sink[A, Option[A]] {
    // TakeOrderedAndProject: per-partition top-1 then driver merge
    def apply(in: SStream[A]): Option[A] =
      in.ds.orderBy(col("seq").desc).head(1).headOption.map(_.value)
  }

  /** head (= `await` as a sink, reference `src/Data/Conduino.hs:115-117`):
    * first element; terminates after consuming it.
    */
  def head[A]: PrefixSink[A, Option[A]] = new PrefixSink[A, Option[A]] {
    def apply(in: SStream[A]): Option[A] =
      in.ds.orderBy(col("seq")).head(1).headOption.map(_.value)
    def terminationSeq(in: SStream[A]): Long =
      in.ds.toDF().agg(coalesce(min(col("seq")), lit(Long.MaxValue)))
        .head().getLong(0)
  }

  /** take-n collected — a PrefixSink for altSink races. */
  def takeList[A: TypeTag](n: Int): PrefixSink[A, List[A]] = new PrefixSink[A, List[A]] {
    def apply(in: SStream[A]): List[A] =
      in.ds.orderBy(col("seq")).limit(n).collect().iterator.map(_.value).toList
    /** Finishes after its n-th element — but if the stream is SHORTER than
      * n it only finishes at end-of-stream, so report Long.MaxValue (ties
      * in `alt` then go left, matching the reference's left-biased
      * `altSink_`, `src/Data/Conduino.hs:637-648`).
      */
    def terminationSeq(in: SStream[A]): Long = {
      if (n <= 0) Long.MinValue // needs nothing: finishes before any element
      else {
        val row = in.ds.toDF().orderBy(col("seq")).limit(n)
          .agg(org.apache.spark.sql.functions.count(lit(1)), max(col("seq"))).head()
        if (row.getLong(0) < n) Long.MaxValue else row.getLong(1)
      }
    }
  }

  /** A full-stream sink wrapped for altSink (never finishes early). */
  def whole[A, R](s: Sink[A, R]): PrefixSink[A, R] = new PrefixSink[A, R] {
    def apply(in: SStream[A]): R = s(in)
    def terminationSeq(in: SStream[A]): Long = Long.MaxValue
  }

  /** sinkHandle (reference `Combinators.hs:291-297`): write each element
    * as a line of text at `path` (distributed write; part-file order
    * follows seq because the writer range-partitions by seq first).
    */
  def sinkTextFile[A](path: String): Sink[A, Unit] = new Sink[A, Unit] {
    def apply(in: SStream[A]): Unit =
      OrderedExec.sorted(in.ds)
        .map((e: Elem[A]) => e.value.toString)(org.apache.spark.sql.Encoders.STRING)
        .write.mode("overwrite").text(path)
  }

  /** stdout / stderr (reference `Combinators.hs:300-307`): print each
    * element in seq order on the driver (ordered toLocalIterator — the
    * observable side of the stream, not a data path).
    */
  def stdout[A]: Sink[A, Unit] = new Sink[A, Unit] {
    def apply(in: SStream[A]): Unit = in.toLocalIterator.foreach(println)
  }
  def stderr[A]: Sink[A, Unit] = new Sink[A, Unit] {
    def apply(in: SStream[A]): Unit = in.toLocalIterator.foreach(System.err.println)
  }

  /** Marker for the never-finishing sink (so `alt` can distinguish
    * "finishes exactly at end-of-stream" from "never finishes at all" —
    * both report Long.MaxValue as a seq).
    */
  private[graft] trait NeverSink

  /** The never-finishing sink — ZipSink's Alternative `empty`
    * (reference `src/Data/Conduino.hs:675-687`): consumes forever, so in
    * an `alt` race the other side always wins; it has no result of its
    * own.
    */
  def never[A, R]: PrefixSink[A, R] = new PrefixSink[A, R] with NeverSink {
    def apply(in: SStream[A]): R =
      throw new UnsupportedOperationException(
        "never (ZipSink empty): a never-finishing sink has no result")
    def terminationSeq(in: SStream[A]): Long = Long.MaxValue
  }

  /** zipSink (reference `src/Data/Conduino.hs:654-660`): feed one stream to
    * two folds in a single scan; finishes when both finish ("and").
    */
  def zip[A, B1, R1, B2, R2](s1: FoldSink[A, B1, R1], s2: FoldSink[A, B2, R2])
      : FoldSink[A, (B1, B2), (R1, R2)] =
    FoldSink[A, (B1, B2), (R1, R2)](
      (s1.zero, s2.zero),
      { case ((b1, b2), a) => (s1.step(b1, a), s2.step(b2, a)) },
      for (c1 <- s1.combine; c2 <- s2.combine)
        yield (x: (B1, B2), y: (B1, B2)) => (c1(x._1, y._1), c2(x._2, y._2)),
      { case (b1, b2) => (s1.finish(b1), s2.finish(b2)) })

  /** altSink (reference `src/Data/Conduino.hs:664-670`): feed both, return
    * the result of whichever finishes FIRST (ties go left, matching the
    * reference's left-biased `altSink_`, lines 637-648).
    */
  def alt[A, R](s1: PrefixSink[A, R], s2: PrefixSink[A, R]): Sink[A, R] =
    new Sink[A, R] {
      def apply(in: SStream[A]): R = (s1, s2) match {
        // empty <|> s = s (the never sink cannot win a race)
        case (_: NeverSink, _) => s2(in)
        case (_, _: NeverSink) => s1(in)
        case _ =>
          val t1 = s1.terminationSeq(in)
          val t2 = s2.terminationSeq(in)
          if (t1 <= t2) s1(in) else s2(in)
      }
    }
}
