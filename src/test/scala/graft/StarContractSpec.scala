package graft

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Pipeline

/** Seeded properties of [[Pipeline.starContract]]'s driver finish (same
  * deterministic-seed discipline as PropertySpec): on every graph shape
  * the contraction meets, the union-find labels equal the distributed
  * rounds' labels (forced with `localEdges = 0`) and a plain BFS. */
class StarContractSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** Min reachable id per node, by BFS from each node in ascending order
    * (the first node to reach a component is its minimum). */
  private def reference(edges: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val label = mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { root =>
      if (!label.contains(root)) {
        label(root) = root
        val queue = mutable.Queue(root)
        while (queue.nonEmpty) adj(queue.dequeue()).foreach { v =>
          if (!label.contains(v)) { label(v) = root; queue.enqueue(v) }
        }
      }
    }
    label.toSeq.sorted
  }

  /** One graph of every shape: a randomly oriented chain, a star, isolated
    * pairs, self-loops (on lone nodes and on a linked node), a random
    * multigraph, then duplicated and reversed copies of random edges.
    * Ids are distinct, spread and partly negative. */
  private def graph(rnd: Random): Seq[(Long, Long)] = {
    val ids = rnd.shuffle((0L until 400L).map(_ * 7919L - 100000L)).iterator
    def take(n: Int) = Seq.fill(n)(ids.next())
    val chain = { val c = take(2 + rnd.nextInt(40))
      c.zip(c.tail).map(e => if (rnd.nextBoolean()) e.swap else e) }
    val star = { val c = take(2 + rnd.nextInt(30)); c.tail.map(c.head -> _) }
    val pairs = Seq.fill(1 + rnd.nextInt(5)) { val c = take(2); c(0) -> c(1) }
    val loops = take(1 + rnd.nextInt(4)).map(v => v -> v)
    val multi = { val c = take(20); Seq.fill(25)(c(rnd.nextInt(20)) -> c(rnd.nextInt(20))) }
    val base = chain ++ star ++ pairs ++ loops ++ multi :+ (chain.head._1 -> chain.head._1)
    val dups = Seq.fill(10)(base(rnd.nextInt(base.size)))
    val reversed = Seq.fill(10)(base(rnd.nextInt(base.size)).swap)
    rnd.shuffle(base ++ dups ++ reversed)
  }

  private def run(df: DataFrame, localEdges: Long): (Seq[(Long, Long)], Int) = {
    val (labels, rounds) = Pipeline.starContract(df, localEdges = localEdges)
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted, rounds)
  }

  test("driver-finish labels equal the forced distributed rounds on seeded graphs") {
    (1 to 6).foreach { seed =>
      val edges = graph(new Random(seed))
      val df = edges.toDF("s", "t")
      val want = reference(edges)
      val (driver, r0) = run(df, Pipeline.EdgesPerTask)
      val (rounds, rn) = run(df, 0)
      assert(r0 == 0, s"seed $seed: a graph this small must take 0 rounds")
      assert(rn > 0, s"seed $seed: localEdges = 0 must force the rounds")
      assert(driver == rounds, s"seed $seed: driver finish != rounds")
      assert(driver == want, s"seed $seed: labels != BFS reference")
      // a finish after some rounds: the check runs after every round too
      val distinct = edges.map { case (a, b) => (a min b, a max b) }.distinct.size
      val (mid, rm) = run(df, distinct / 2)
      assert(rm >= 1 && rm <= rn, s"seed $seed: mid-loop finish took $rm rounds")
      assert(mid == want, s"seed $seed: mid-loop finish != BFS reference")
    }
    val empty = Seq.empty[(Long, Long)].toDF("s", "t")
    assert(run(empty, Pipeline.EdgesPerTask) == (Seq.empty, 0))
    assert(run(empty, 0)._1.isEmpty)
  }

  test("the fixture-scale dedup_lsh_cc graph finishes on the driver in 0 rounds") {
    val pairs = Pipeline.lshCcPairs(spark, sf01)
    val (driver, rounds) = run(pairs, Pipeline.EdgesPerTask)
    assert(rounds == 0)
    assert(driver.nonEmpty && driver == run(pairs, 0)._1)
  }
}
