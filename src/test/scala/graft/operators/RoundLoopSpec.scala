package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A RoundLoop run whose round throws frees everything it created: its
  * caches, held checkpoints, landed lineage cuts, the staged round and the
  * output. Both loop shapes are covered — fixed-iteration rounds with a
  * cut every 8 (`iterate`) and lazily staged rounds with a fused probe
  * (`converge`) — and the throw comes once from the driver and once from
  * a task, via a UDF in the round's plan. The throw goes in at the loop
  * seam: an operator's rounds read only state that is already cached, so
  * no operator input can make a round fail deterministically.
  */
class RoundLoopSpec extends SparkTestBase {

  private val boom = udf { (x: Long) =>
    if (x >= 0L) throw new IllegalStateException("boom")
    x
  }

  private def origin(inTask: Boolean) = if (inTask) "a task" else "the driver"

  /** Ids of persisted RDDs, and of RDDs with blocks in storage. */
  private def held(): (Set[Int], Set[Int]) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet.toSet, sc.getRDDStorageInfo.map(_.id).toSet)
  }

  /** Runs a 12-round loop of `shape` whose round `k` throws, and asserts
    * that afterwards nothing the run created is persisted or stored. */
  private def assertFreedAfterThrow(shape: String, k: Int,
      inTask: Boolean): Unit = {
    val what = s"$shape, round $k, in ${origin(inTask)}"
    val (p0, s0) = held()
    val step: (DataFrame, Int) => DataFrame = (df, i) =>
      if (i != k) df.select((col("id") + 1).as("id"))
      else if (inTask) df.select(boom(col("id")).as("id"))
      else throw new IllegalStateException("boom")
    val ex = intercept[Exception] {
      RoundLoop.run() { loop =>
        val base = loop.cache(spark.range(0, 64, 1, 4).toDF("id"))
        base.count()
        val last = shape match {
          case "iterate" => loop.iterate(base, 12)(step)
          case "converge" => (1 to 12).foldLeft(base) { (df, i) =>
            loop.converge(step(df, i))(_.count())._1
          }
        }
        loop.output(last).count()
      }
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("boom")),
      s"$what: unexpected failure $ex")
    // frees are non-blocking: poll briefly for the block manager
    val deadline = System.nanoTime() + 10_000_000_000L
    var (p, s) = held()
    while (((p -- p0).nonEmpty || (s -- s0).nonEmpty) &&
        System.nanoTime() < deadline) {
      Thread.sleep(200)
      val h = held(); p = h._1; s = h._2
    }
    assert((p -- p0).isEmpty, s"$what: persisted RDDs left: ${p -- p0}")
    assert((s -- s0).isEmpty, s"$what: stored RDDs left: ${s -- s0}")
  }

  // round 3 fails before the round-8 cut; round 10 after it has landed
  for (inTask <- Seq(false, true))
    test(s"a round that throws in ${origin(inTask)} frees everything the " +
        "run created") {
      for (shape <- Seq("iterate", "converge"); k <- Seq(3, 10))
        assertFreedAfterThrow(shape, k, inTask)
    }
}
