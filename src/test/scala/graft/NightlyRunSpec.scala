package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.pipeline.NightlyRun
import graft.sources.{EnvelopeTransport, FetchRequest, StubTransport}

/** End-to-end proof of the reference's nightly composition (r11
  * VERDICT item 5; SURVEY §3 Entry 1+2): worklist → envelope decode →
  * latest-wins merge → dim enrich → partitioned mart commit →
  * governance gate, chained through graft.pipeline.NightlyRun over a
  * date slice, with the artifact-reuse contract asserted END TO END
  * rather than per-family:
  *   - a tick touches only its slice's partitions (untouched
  *     partition files byte-identical by name+mtime after later
  *     ticks);
  *   - a steady-state re-send is idempotent (latest-wins, key-unique
  *     mart) and launches exactly as many Spark jobs as the previous
  *     tick — the job count does not grow with mart size and no
  *     rebuild work appears (LazyRegistrySpec's claim, exercised on
  *     the whole chain).
  */
class NightlyRunSpec extends SparkSpec {
  import spark.implicits._

  /** StubTransport's derivation, reproduced independently: one record
    * per store×day with id = store·100000 + epochDay, k = epochDay%7;
    * every 50th store answers a non-OK envelope the decode gate must
    * drop (load_sales_data.py:97-99's gate). */
  private def expectedRows(stores: Long, lo: String, hi: String): Seq[(Long, Long, Long)] =
    for {
      s <- 0L until stores
      if s % 50 != 0
      day <- java.time.LocalDate.parse(lo).toEpochDay to
        java.time.LocalDate.parse(hi).toEpochDay
    } yield (s * 100000 + day, s, day % 7)

  /** A later re-send of the same slice with REVISED measures — the
    * reference's nightly re-extraction window, where the API returns
    * corrected figures and the upsert must overwrite (latest wins). */
  private final class RevisedTransport extends EnvelopeTransport {
    override def fetchPartition(rs: Iterator[FetchRequest]): Iterator[String] =
      rs.map { r =>
        val day = r.date.toEpochDay
        val code = if (r.storeId % 50 == 0) "9999" else "0000"
        s"""{"ret_code":"$code","data":[{"id":${r.storeId * 100000 + day},"k":${day % 7 + 10}}]}"""
      }
  }

  private def partitionFiles(martDir: String): Map[String, Long] =
    Files.walk(Paths.get(martDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.toString.contains("sale_d="))
      .map(p => Paths.get(martDir).relativize(p).toString ->
        Files.getLastModifiedTime(p).toMillis)
      .toMap

  /** The slice's swapped `sale_d=` dirs each hold exactly one parquet
    * file: the staging write goes through the skew-bounded
    * `LayoutOps.partitionedOverwrite`, which keeps a small date in one
    * task. */
  private def assertOneFilePerDir(martDir: String, lo: String, hi: String): Unit = {
    val days = java.time.LocalDate.parse(lo).toEpochDay to
      java.time.LocalDate.parse(hi).toEpochDay
    days.map(java.time.LocalDate.ofEpochDay).foreach { d =>
      val files = Option(new java.io.File(martDir, s"sale_d=$d").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"sale_d=$d holds ${files.map(_.getName).toSeq}")
    }
  }

  /** Count every job started during `body` via the shared
    * [[JobCounter]] (sentinel-tagged FIFO settle — r20 ADVICE item 4
    * replaced three local copies of this helper). */
  private def countJobs[A](body: => A): (A, Int) = {
    val jc = new JobCounter(spark.sparkContext)
    try jc.counted(body) finally jc.close()
  }

  test("a slice date emptied by the merge retires its partition dir (no stale duplicates)") {
    // the reference's correction case: a booking re-sent under a
    // corrected date. Key X stands on d1; the re-extraction window
    // [d1,d2] returns X on d2. Latest-wins keeps only (X,d2) — so d1's
    // merged output is EMPTY, no staging dir is written for it, and
    // the commit must RETIRE the old d1 dir or (X,d1) survives as a
    // duplicate the key_unique gate then flags forever.
    val martDir = Files.createTempDirectory("graft_nightly_move_").toString
    val dim = Seq((1L, "north")).toDF("store_id", "region_nm")
    val d1 = "2024-05-01"
    val d2 = "2024-05-02"
    val d1Epoch = java.time.LocalDate.parse(d1).toEpochDay
    // every store's d1 ids re-sent under d2; d1 requests answer non-OK
    final class DateShiftTransport extends EnvelopeTransport {
      override def fetchPartition(rs: Iterator[FetchRequest]): Iterator[String] =
        rs.map { r =>
          val code =
            if (r.storeId % 50 == 0 || r.date.toString == d1) "9999" else "0000"
          s"""{"ret_code":"$code","data":[{"id":${r.storeId * 100000 + d1Epoch},"k":42}]}"""
        }
    }
    try {
      val r1 = NightlyRun.run(spark, martDir, stores = 120, lo = d1, hi = d1,
        transport = new StubTransport, storeDim = dim)
      val exp = expectedRows(120, d1, d1)
      assert(r1.merged === exp.size.toLong && r1.gatePassed)
      assert(new java.io.File(martDir, s"sale_d=$d1").isDirectory)

      val r2 = NightlyRun.run(spark, martDir, stores = 120, lo = d1, hi = d2,
        transport = new DateShiftTransport, storeDim = dim)
      assert(r2.merged === exp.size.toLong,
        "latest-wins must collapse each re-dated key to one row")
      assert(!new java.io.File(martDir, s"sale_d=$d1").exists(),
        "the emptied slice date's partition dir must be retired")
      val mart = spark.read.parquet(martDir)
      assert(mart.count() === exp.size.toLong,
        "the superseded rows must not survive as duplicates")
      assert(mart.filter(col("sale_d") =!= lit(d2).cast("date")).count() === 0L)
      assert(r2.gatePassed, s"gate failed: ${r2.gate.filterNot(_.passed)}")
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(new java.io.File(martDir))
    }
  }

  test("a fully-gated tick commits an empty mart LOUDLY and the next good tick recovers") {
    // the r13 edge class, end to end: every envelope in the slice
    // answers non-OK (API outage / systemic ret_code failure). The
    // tick must (a) run to completion — an empty partitioned mart is
    // writable and re-readable under the writer's schema, no
    // UNABLE_TO_INFER_SCHEMA; (b) report the emptiness through the
    // gate (slice_nonempty FAILS — an operator reads the outage off
    // the Report, nothing silently "succeeds"); (c) leave a mart the
    // NEXT healthy tick builds on cleanly.
    val martDir = Files.createTempDirectory("graft_nightly_gated_").toString
    val dim = Seq((1L, "north")).toDF("store_id", "region_nm")
    final class AllGatedTransport extends EnvelopeTransport {
      override def fetchPartition(rs: Iterator[FetchRequest]): Iterator[String] =
        rs.map(r => s"""{"ret_code":"9999","data":[{"id":${r.storeId},"k":1}]}""")
    }
    try {
      val d = "2024-06-01"
      val r1 = NightlyRun.run(spark, martDir, stores = 60, lo = d, hi = d,
        transport = new AllGatedTransport, storeDim = dim)
      assert(r1.decoded === 0L && r1.merged === 0L)
      assert(!r1.gatePassed, "an all-gated slice must FAIL the gate, loudly")
      assert(r1.gate.exists(g => g.check == "slice_nonempty" && !g.passed))
      assert(new java.io.File(martDir, "_SUCCESS").exists(),
        "the empty commit itself is a valid commit (outage ≠ torn mart)")
      // next tick, API recovered: builds on the empty mart cleanly
      val r2 = NightlyRun.run(spark, martDir, stores = 60, lo = d, hi = d,
        transport = new StubTransport, storeDim = dim)
      val exp = expectedRows(60, d, d)
      assert(r2.merged === exp.size.toLong && r2.gatePassed,
        s"recovery tick must pass: ${r2.gate.filterNot(_.passed)}")
      val mart = spark.read.parquet(martDir)
      assert(mart.count() === exp.size.toLong)
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(new java.io.File(martDir))
    }
  }

  test("nightly ticks: cold build, slice isolation, idempotent steady state with stable job count") {
    val martDir = Files.createTempDirectory("graft_nightly_").toString
    val dim = Seq((1L, "north"), (2L, "south"), (3L, "north"))
      .toDF("store_id", "region_nm")
    try {
      // ---- tick 1 (cold): slice A builds the mart from nothing ----
      val r1 = NightlyRun.run(spark, martDir, stores = 120,
        lo = "2024-03-01", hi = "2024-03-02",
        transport = new StubTransport, storeDim = dim)
      val expA = expectedRows(120, "2024-03-01", "2024-03-02")
      assert(r1.decoded === expA.size.toLong, // 117 stores × 2 days
        "decode gate must drop exactly the non-OK envelopes")
      assert(r1.merged === expA.size.toLong)
      assert(r1.gatePassed, s"gate failed: ${r1.gate.filterNot(_.passed)}")
      val mart1 = spark.read.parquet(martDir)
      assert(mart1.count() === expA.size.toLong)
      assert(mart1.select("id", "store_id", "k").as[(Long, Long, Long)]
        .collect().toSet === expA.toSet)
      // dim enrich: matched stores carry the dim value, others the default
      val regions = mart1.groupBy("region").count().as[(String, Long)]
        .collect().toMap
      assert(regions("north") === 4L && regions("south") === 2L,
        s"broadcast update-join enrich drifted: $regions")
      assert(regions("unknown") === expA.size.toLong - 6L)
      // date-partitioned layout, one dir per slice day
      assert(partitionFiles(martDir).keys.map(_.split('/').head).toSet ===
        Set("sale_d=2024-03-01", "sale_d=2024-03-02"))
      assertOneFilePerDir(martDir, "2024-03-01", "2024-03-02")

      // ---- tick 2: slice B must not touch slice A's partitions ----
      val filesA = partitionFiles(martDir)
      val (r2, jobs2) = countJobs {
        NightlyRun.run(spark, martDir, stores = 120,
          lo = "2024-03-03", hi = "2024-03-04",
          transport = new StubTransport, storeDim = dim)
      }
      val expB = expectedRows(120, "2024-03-03", "2024-03-04")
      assert(r2.decoded === expB.size.toLong && r2.gatePassed)
      assert(spark.read.parquet(martDir).count() ===
        (expA.size + expB.size).toLong)
      val filesAfterB = partitionFiles(martDir)
      assert(filesAfterB.view.filterKeys(filesA.contains).toMap === filesA,
        "a tick must not rewrite, relist, or touch partitions outside its slice")
      assertOneFilePerDir(martDir, "2024-03-03", "2024-03-04")

      // ---- tick 3: steady-state re-send of slice B, revised figures ----
      val filesANow = partitionFiles(martDir).view
        .filterKeys(filesA.contains).toMap
      val (r3, jobs3) = countJobs {
        NightlyRun.run(spark, martDir, stores = 120,
          lo = "2024-03-03", hi = "2024-03-04",
          transport = new RevisedTransport, storeDim = dim)
      }
      assert(r3.decoded === expB.size.toLong && r3.gatePassed)
      // merge saw standing ∪ incoming, collapsed to one row per key
      assert(r3.merged === expB.size.toLong)
      val mart3 = spark.read.parquet(martDir)
      assert(mart3.count() === (expA.size + expB.size).toLong,
        "an idempotent re-send must not grow the mart")
      // latest wins: slice B's measures are the REVISED ones...
      val kB = mart3.filter(col("sale_d") >= lit("2024-03-03").cast("date"))
        .select(min("k"), max("k")).as[(Long, Long)].head()
      assert(kB._1 >= 10L, s"revised measures must overwrite (latest wins): $kB")
      assertOneFilePerDir(martDir, "2024-03-03", "2024-03-04")
      // ...and slice A's original rows are bit-untouched
      assert(partitionFiles(martDir).view.filterKeys(filesA.contains).toMap
        === filesANow, "steady-state tick leaked writes into a foreign slice")
      // a tick over a NEW slice skips the standing read entirely (its
      // partition dirs don't exist yet), so the first re-send pays at
      // most the footer-read of its own slice on top — never more
      assert(jobs3 <= jobs2 + 1,
        s"re-send job count grew beyond the standing read: tick2=$jobs2 tick3=$jobs3")

      // ---- tick 4: second steady-state re-send — the stable shape ----
      // the artifact-reuse claim, end to end: two steady re-sends of
      // the same slice pay IDENTICAL job counts — no rebuild jobs, no
      // per-run growth with mart size or partition count (the mart
      // outside the slice is never even listed, so its age cannot
      // leak into the count)
      val (r4, jobs4) = countJobs {
        NightlyRun.run(spark, martDir, stores = 120,
          lo = "2024-03-03", hi = "2024-03-04",
          transport = new RevisedTransport, storeDim = dim)
      }
      assert(r4.gatePassed && r4.merged === expB.size.toLong)
      assert(spark.read.parquet(martDir).count() ===
        (expA.size + expB.size).toLong)
      assert(jobs4 === jobs3,
        s"steady-state job count drifted: tick3=$jobs3 tick4=$jobs4")
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(new java.io.File(martDir))
    }
  }
}
