package perfbench

import scala.collection.mutable

import org.apache.spark.util.LongAccumulator

import graft.sources.FetchRequest

/** Self-test of the nightly feed (no Spark session): the transport is
  * deterministic per seed, its shape is the documented one, and the
  * closed-form oracle agrees with a replay of the transport's envelopes
  * through a hand-written latest-wins merge. Exits non-zero on failure.
  * `perfbench/test_perfbench.py` runs it.
  */
object SelfTest {
  private val Rec = """\{"id":(\d+),"k":(\d+)\}""".r

  private def fetch(seed: Long, night: Int, stores: Long, days: Seq[Int]): Seq[String] = {
    val t = new SeededTransport(seed, stores, night, new LongAccumulator, new LongAccumulator,
      new LongAccumulator)
    t.fetchPartition(for (d <- days.iterator; s <- (0L until stores).iterator)
      yield FetchRequest(s, NightlyModel.D0.plusDays(d.toLong))).toSeq
  }

  /** Replays build tick + steady nights through the transport and merges
    * latest-wins per id, as the mart should. */
  private def replay(seed: Long, stores: Long, age: Int, last: Int): Map[String, NightlyModel.DateSum] = {
    val mart = mutable.Map.empty[Long, (Int, Long, Long)] // id -> (day, store, k)
    val schedule = ((age - 1) -> (0 until age)) +: (age to last).map(n => n -> Seq(n - 1, n))
    for ((night, days) <- schedule) {
      val units = for (d <- days; s <- 0L until stores) yield (d, s)
      units.zip(fetch(seed, night, stores, days)).foreach { case ((d, s), env) =>
        if (env.contains("\"ret_code\":\"0000\""))
          Rec.findAllMatchIn(env).foreach(m => mart(m.group(1).toLong) = (d, s, m.group(2).toLong))
      }
    }
    mart.toSeq.groupBy(_._2._1).map { case (d, rows) =>
      NightlyModel.date(d) -> NightlyModel.DateSum(rows.size.toLong, rows.map(_._2._3).sum,
        rows.map { case (id, (_, s, k)) => NightlyModel.rowHash(id, s, k) }.foldLeft(0L)(_ ^ _))
    }
  }

  def main(args: Array[String]): Unit = {
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: String): Unit = if (!ok) failures += what

    val a = fetch(7L, 5, 50L, Seq(4, 5))
    check(a == fetch(7L, 5, 50L, Seq(4, 5)), "same seed gave different envelopes")
    check(a != fetch(8L, 5, 50L, Seq(4, 5)), "another seed gave the same envelopes")
    check(a != fetch(7L, 6, 50L, Seq(4, 5)), "a re-send carried no revised figures")

    val items = (0L until 300L).map(NightlyModel.items(7L, 300L, _))
    val mean = items.sum.toDouble / items.size
    check(mean > 90 && mean < 110, f"mean items per store $mean%.1f, expected about 100")
    check(items.max > 3 * mean, "items per store are not skewed")
    check(items.sorted == (0L until 300L).map(NightlyModel.items(8L, 300L, _)).sorted,
      "the seed changed the item-count profile, not just its assignment to stores")
    check(items != (0L until 300L).map(NightlyModel.items(8L, 300L, _)),
      "the seed did not change which store sells how many items")
    val nonOk = (for (s <- 0L until 2000L; d <- 0 until 10)
      yield !NightlyModel.ok(7L, s, d, d)).count(identity) / 20000.0
    check(nonOk > 0.01 && nonOk < 0.03, f"non-OK share $nonOk%.4f, expected about 0.02")

    for (seed <- Seq(1L, 2L)) {
      val want = NightlyModel.expected(seed, 30L, 3, 7)
      val got = replay(seed, 30L, 3, 7)
      check(got == want, s"seed $seed: oracle disagrees with the replayed transport")
    }

    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println("SELFTEST FAILED: " + f))
      sys.exit(1)
    }
    println("selftest ok")
  }
}
