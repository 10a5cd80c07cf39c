package graft

import graft.core._
import graft.operators._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-partition stress: the distributed order schemes (prefix-combine,
  * boundary exchange, cut filters) against the list oracle on inputs
  * large enough to span every shuffle partition — the failure mode unit
  * examples can't catch (wrong carry at a partition boundary).
  */
class CrossPartitionSpec extends SparkSpec {

  private val N = 50000
  private val rnd = new scala.util.Random(7)
  private val xs: Vector[Long] = Vector.fill(N)(rnd.nextInt(1000).toLong - 500)

  private lazy val src: SStream[Long] = Sources.fromSeq(spark, xs)

  /** Every carry-chain test also runs on an empty input and on fewer
    * rows (3) than shuffle partitions (4).
    */
  private val inputs: Seq[Vector[Long]] = Seq(xs, Vector.empty, xs.take(3))

  private def stream(in: Vector[Long]): SStream[Long] =
    if (in eq xs) src else Sources.fromSeq(spark, in)

  /** `in` as a Row stream (seq, v), scattered over 8 input partitions. */
  private def rows(in: Vector[Long]): DataFrame = {
    import spark.implicits._
    in.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("seq", "v").repartition(8)
  }

  private def longs(df: DataFrame, c: String): List[Long] =
    df.orderBy("seq").select(c).collect().map(_.getLong(0)).toList

  test("scanCombine across partitions == sequential scanLeft") {
    for (in <- inputs) {
      val got = (stream(in) |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + a)(_ + _))
        .into(Sinks.sinkList)
      assert(got == in.scanLeft(0L)(_ + _).tail.toList)
    }
  }

  test("pairs across partitions == xs.zip(xs.tail)") {
    for (in <- inputs) {
      val got = (stream(in) |> Pipes.pairs[Long]).into(Sinks.sinkList)
      assert(got == in.zip(in.drop(1)).toList)
    }
  }

  test("consecutive across partitions == sliding with leading partials + final") {
    val n = 4
    for (in <- inputs) {
      val got = (stream(in) |> Pipes.consecutive[Long](n)).into(Sinks.sinkList)
      val expect = (0 to in.size).map(i => in.slice(math.max(0, i - n), i).toSeq).toList
      assert(got == expect)
    }
  }

  test("take/drop cuts land exactly at arbitrary positions") {
    for (k <- Seq(1L, 12499L, 25000L, 49999L, 50000L)) {
      assert((src |> Pipes.take[Long](k)).into(Sinks.count) == k.min(N))
      assert((src |> Pipes.suffixAfter(Pipes.drop[Long](k))).into(Sinks.count) == (N - k).max(0))
    }
  }

  test("columnar running sum across partitions == prefix sums") {
    for (in <- inputs)
      assert(longs(RowExec.runningSumLong(rows(in), col("v"), "rs"), "rs") ==
        in.scanLeft(0L)(_ + _).tail.toList)
  }

  test("Row mapWithCarry (q_map_accum delta) across partitions == list deltas") {
    val schema = StructType(Seq(StructField("seq", LongType), StructField("delta", LongType)))
    for (in <- inputs) {
      val got = RowExec.mapWithCarry(rows(in), 1, schema) { (carry, it) =>
        var prev = carry.lastOption.map(_.getLong(1)).getOrElse(0L)
        it.map { r => val v = r.getLong(1); val d = v - prev; prev = v; Row(r.getLong(0), d) }
      }
      assert(longs(got, "delta") == in.zip(0L +: in).map { case (v, p) => v - p }.toList)
    }
  }

  test("pairsDf across partitions == xs.zip(xs.tail)") {
    for (in <- inputs) {
      val got = RowExec.pairsDf(rows(in), Seq("v")).orderBy("seq")
        .select("prev_v", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toList
      assert(got == in.zip(in.drop(1)).toList)
    }
  }

  test("consecutiveDf(n=4) across partitions == the previous <=4 values per row") {
    val n = 4
    for (in <- inputs) {
      val got = RowExec.consecutiveDf(rows(in), "v", n).orderBy("seq")
        .select("window").collect().map(_.getSeq[Long](0).toList).toList
      assert(got == in.indices.map(i => in.slice(math.max(0, i - n), i).toList).toList)
    }
  }

  test("withDenseSeq across partitions: shuffled unique keys get dense ordinals in key order") {
    import spark.implicits._
    for (in <- inputs) {
      // row j carries key 3·perm(j) − 7 and value in(perm(j)): key order is input order
      val perm = new scala.util.Random(11).shuffle(in.indices.toVector)
      val df = perm.zipWithIndex.map { case (p, j) => (j.toLong, p * 3L - 7, in(p)) }
        .toDF("seq", "k", "v").repartition(8)
      val got = RowExec.withDenseSeq(df, Seq(col("k"))).orderBy("seq")
        .select("seq", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toList
      assert(got == in.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toList)
    }
  }

  test("ordered ops release their sorted copy when a closure throws") {
    // LiftSpec's measure (non-checkpoint cached RDDs), by id: a failed
    // checkpoint job's half-written output is unreferenced and reclaimed
    // by the ContextCleaner after GC; a sorted copy the CacheManager
    // still holds never is
    def cachedNonCheckpoint: Set[Int] =
      spark.sparkContext.getPersistentRDDs.filter(!_._2.isCheckpointed).keySet.toSet
    val before = cachedNonCheckpoint
    val last = xs.last
    val boom: Long => Long = v => if (v == last) throw new IllegalStateException("boom") else v
    val df = rows(xs)
    intercept[Exception] { // throws in the finish, which runs in the consumer's job
      RowExec.mapWithCarry(df, 1, df.schema)((_, it) => it.map(r => Row(r.getLong(0), boom(r.getLong(1)))))
        .count()
    }
    intercept[Exception] { // throws in the partials job, while the sorted copy fills
      (src |> Pipes.scanCombine(0L)((b: Long, a: Long) => b + boom(a))(_ + _)).into(Sinks.count)
    }
    intercept[Exception] {
      (src |> Pipes.map[Long, Long](boom) |> Pipes.pairs[Long]).into(Sinks.count)
    }
    intercept[Exception] {
      RowExec.runningSumLong(df, udf(boom).apply(col("v")), "rs")
    }
    def lingering: Set[Int] = { System.gc(); cachedNonCheckpoint -- before }
    val deadline = System.nanoTime() + 30L * 1000000000L
    var left = lingering
    while (left.nonEmpty && System.nanoTime() < deadline) { Thread.sleep(200); left = lingering }
    assert(left.isEmpty, s"lingering caches: ${
      spark.sparkContext.getPersistentRDDs.filter(e => left(e._1)).values.map(_.toString)}")
  }

  test("an ordered op builds in 3 jobs; each count of its output is one job over the sorted copy") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // rows in shuffled order, read from a local relation (no exchange of
    // their own)
    val perm = new scala.util.Random(5).shuffle(xs.indices.toVector)
    val df = perm.map(i => (i.toLong, xs(i))).toDF("seq", "v")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j)
    }
    def jobsOf[T](body: => T): (T, List[SparkListenerJobStart]) = {
      ListenerBusDrain(sc); jobs.clear()
      val r = body
      ListenerBusDrain(sc); (r, jobs.asScala.toList)
    }
    def describe(js: List[SparkListenerJobStart]): String =
      js.map(j => s"job ${j.jobId}: ${j.stageInfos.map(_.name).mkString(", ")}").mkString("\n")
    sc.addSparkListener(listener)
    try {
      // range sample, range shuffle map, then one job that sorts, fills
      // the copy and summarizes the partitions
      val (out, build) = jobsOf(RowExec.runningSumLong(df, col("v"), "rs"))
      val buildJobs = build.size
      assert(buildJobs == 3, describe(build))
      for (_ <- 1 to 2) {
        // the finish over the copy: one stage, nothing upstream of it
        // (no shuffle-map stage, no sort), not even a skipped one
        val (n, count) = jobsOf(out.rdd.count())
        assert(n == N)
        val oneStageNoParents = count.size == 1 && count.head.stageInfos.size == 1 &&
          count.head.stageInfos.head.parentIds.isEmpty
        assert(oneStageNoParents, describe(count))
      }
    } finally sc.removeSparkListener(listener)
  }

  test("tied sort keys: dense ordinals and a lookback over them agree across actions") {
    import spark.implicits._
    // 50k rows in shuffled order, sort key i % 7: every key ~7k-fold tied
    val perm = new scala.util.Random(13).shuffle(xs.indices.toVector)
    val df = perm.map(i => (i.toLong, i % 7L, xs(i))).toDF("id", "k", "v").repartition(8)
    val dense = RowExec.withDenseSeq(df, Seq(col("k")))
    def rowsOf(d: DataFrame): List[(Long, Long, Long, Long)] =
      d.orderBy("seq").select("seq", "id", "k", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toList
    val first = rowsOf(dense)
    assert(first.map(_._1) == (0L until N.toLong).toList)
    assert(first.map(_._3).sliding(2).forall { case Seq(a, b) => a <= b })
    // the order among ties is fixed once, by the one materialized copy
    assert(rowsOf(dense) == first)
    val n = 3
    val vs = first.map(_._4).toVector
    val windows = RowExec.consecutiveDf(dense, "v", n).orderBy("seq")
      .select("window").collect().map(_.getSeq[Long](0).toList).toList
    assert(windows == vs.indices.map(i => vs.slice(math.max(0, i - n), i).toList).toList)
  }

  test("foldr on a large reversed stream == foldRight") {
    // order-sensitive non-commutative fold: subtraction
    val small = xs.take(5000)
    val got = Sources.fromSeq(spark, small)
      .into(Sinks.foldr(0L)((a: Long, b: Long) => a - b))
    assert(got == small.foldRight(0L)(_ - _))
  }

  test("foldrCombine across partitions == foldRight (non-commutative affine composition, N=50k)") {
    // element v ↦ affine map x → αx+β (mod M); foldr composes
    // g_first ∘ … ∘ g_last — composition is associative with identity
    // but NOT commutative, so any partition-order slip is caught
    val M = 1000000007L
    type Aff = (Long, Long)
    val id: Aff = (1L, 0L)
    def mk(v: Long): Aff = ((v % 97) + 2, (v % 1003) + 1)
    def compose(f: Aff, g: Aff): Aff = ((f._1 * g._1) % M, (f._1 * g._2 + f._2) % M)
    val got = src.into(
      Sinks.foldrCombine(id)((v: Long, acc: Aff) => compose(mk(v), acc))(compose))
    assert(got == xs.foldRight(id)((v, acc) => compose(mk(v), acc)))
  }

  test("foldrCombine reverse-concat == sequential foldr (flipped combine)") {
    val strs = (0 until 2000).map(i => ('a' + i % 26).toChar.toString)
    val got = Sources.fromSeq(spark, strs)
      .into(Sinks.foldrCombine("")((x: String, acc: String) => acc + x)((a, b) => b + a))
    assert(got == strs.foldRight("")((x, acc) => acc + x))
  }
}
