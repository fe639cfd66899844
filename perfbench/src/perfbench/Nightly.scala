package perfbench

import java.time.LocalDate

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.util.LongAccumulator

import graft.sources.{EnvelopeTransport, FetchRequest}

/** The seeded POS feed behind the `nightly_tick` workload.
  *
  * Night `n` re-extracts the trailing window of dates `[n-1, n]` (date
  * index `i` is `D0 + i` days). Every (store, date) request answers one
  * envelope holding one record per item the store sold; the seed picks
  * the skewed item count per store, the measures and which requests
  * answer non-OK (about 2%). A re-sent date carries revised figures:
  * `k = base + 100 * (night - i)`. Everything is a pure function of
  * (seed, store, item, date, night), so the expected mart has a closed
  * form (`expected`) that never runs Spark.
  */
object NightlyModel {
  val D0: LocalDate = LocalDate.parse("2024-07-01")

  /** SplitMix64 finaliser: the one hash every seeded choice goes through. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, a: Long, b: Long = 0, c: Long = 0, d: Long = 0): Long =
    mix(mix(mix(mix(seed ^ a) ^ b) ^ c) ^ d)

  /** Items a store sells: 1 + 396·q³, so most stores are small and a few
    * are large; the mean is about 100. `q` is the store's rank under a
    * seeded permutation of `[0, stores)`, so the seed decides which store
    * is large while every seed sells the same total. */
  def items(seed: Long, stores: Long, store: Long): Int = {
    val q = (rank(seed, stores, store) + 0.5) / stores
    1 + (396 * q * q * q).toInt
  }

  /** `(a·store + b) mod stores` with a seeded multiplier coprime to `stores`. */
  private def rank(seed: Long, stores: Long, store: Long): Long = {
    var a = 1L + java.lang.Long.remainderUnsigned(h(seed, 4), stores)
    while (gcd(a, stores) != 1L) a += 1
    val b = java.lang.Long.remainderUnsigned(h(seed, 5), stores)
    java.lang.Math.floorMod(a * store + b, stores)
  }
  @scala.annotation.tailrec
  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)

  /** About 2% of requests answer a non-OK `ret_code`. */
  def ok(seed: Long, store: Long, day: Int, night: Int): Boolean =
    java.lang.Long.remainderUnsigned(h(seed, 2, store, day.toLong, night.toLong), 50L) != 0L

  def id(store: Long, item: Int, day: Int): Long = (store * 1000L + item) * 100000L + day

  def k(seed: Long, store: Long, item: Int, day: Int, night: Int): Long =
    java.lang.Long.remainderUnsigned(h(seed, 3, store, item.toLong, day.toLong), 1000L) +
      100L * (night - day)

  def envelope(seed: Long, stores: Long, night: Int, store: Long, day: Int): String =
    if (!ok(seed, store, day, night)) """{"ret_code":"9999","data":[]}"""
    else {
      val n = items(seed, stores, store)
      val sb = new java.lang.StringBuilder(64 + 40 * n)
      sb.append("""{"ret_code":"0000","data":[""")
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(',')
        sb.append("{\"id\":").append(id(store, i, day))
          .append(",\"k\":").append(k(seed, store, i, day, night)).append('}')
        i += 1
      }
      sb.append("]}").toString
    }

  def dayOf(d: LocalDate): Int = java.time.temporal.ChronoUnit.DAYS.between(D0, d).toInt
  def date(day: Int): String = D0.plusDays(day.toLong).toString

  /** Nights that fetch `day`: the build tick `age - 1` (which covers
    * `[0, age - 1]`) and every steady night `n` with `day` in `[n-1, n]`. */
  def fetchNights(day: Int, age: Int, lastNight: Int): Seq[Int] =
    ((if (day <= age - 1) Seq(age - 1) else Nil) ++
      Seq(day, day + 1).filter(n => n >= age && n <= lastNight)).distinct

  /** Checksum of one mart date: rows, sum of `k`, and the XOR of
    * Spark's `xxhash64(id, store_id, k)` over its rows. */
  final case class DateSum(rows: Long, sumK: Long, xor: Long)

  def rowHash(id: Long, store: Long, k: Long): Long =
    XXH64.hashLong(k, XXH64.hashLong(store, XXH64.hashLong(id, 42L)))

  /** Closed-form expected mart after the build tick and steady nights
    * `age .. lastNight`: every row holds the figures of the LAST night
    * whose fetch of its (store, date) answered OK. */
  def expected(seed: Long, stores: Long, age: Int, lastNight: Int): Map[String, DateSum] =
    (0 to lastNight).flatMap { day =>
      var rows = 0L; var sumK = 0L; var xor = 0L
      val nights = fetchNights(day, age, lastNight)
      var s = 0L
      while (s < stores) {
        nights.filter(ok(seed, s, day, _)).maxOption.foreach { n =>
          var i = 0
          val m = items(seed, stores, s)
          while (i < m) {
            val kv = k(seed, s, i, day, n)
            rows += 1; sumK += kv; xor ^= rowHash(id(s, i, day), s, kv)
            i += 1
          }
        }
        s += 1
      }
      if (rows == 0) None else Some(date(day) -> DateSum(rows, sumK, xor))
    }.toMap
}

/** The benchmark's `EnvelopeTransport`: answers from [[NightlyModel]]
  * and counts its calls, accepted envelopes and time in accumulators. */
final class SeededTransport(seed: Long, stores: Long, night: Int, calls: LongAccumulator,
                            accepted: LongAccumulator, nanos: LongAccumulator)
    extends EnvelopeTransport {
  override def fetchPartition(requests: Iterator[FetchRequest]): Iterator[String] =
    requests.map { r =>
      val t0 = System.nanoTime()
      val day = NightlyModel.dayOf(r.date)
      val env = NightlyModel.envelope(seed, stores, night, r.storeId, day)
      calls.add(1)
      if (NightlyModel.ok(seed, r.storeId, day, night)) accepted.add(1)
      nanos.add(System.nanoTime() - t0)
      env
    }
}
