package graft

import java.nio.file.{Files, Paths}
import java.util.zip.CRC32C
import scala.jdk.CollectionConverters._

/** Content fingerprints of the driver-generated fixture tables
  * (TESTDATA.md).
  *
  * The driver regenerates /root/testdata between rounds and the bytes
  * — even column TYPES — can drift silently (round 9→10 turned
  * `events.ts` from TIMESTAMP into TIMESTAMP_NTZ and broke one query
  * only AFTER the round's tests had run). Two consumers:
  *
  *   1. Run artifacts: Bench stamps the combined fingerprint into
  *      its stdout line and every `bench_full.jsonl` line, and Verify
  *      into its schema dump, so a delta between two runs
  *      self-adjudicates against fixture regeneration — identical
  *      fingerprints RULE OUT data drift; different ones name it.
  *   2. Persisted ingest artifacts (q35 IVF centroids, the q56/q89
  *      near-dup pair/component tables): keyed by CONTENT, a cache
  *      survives across sessions on identical data and invalidates
  *      itself the moment the driver regenerates the table — the
  *      "built once per dataset" story, not "once per session".
  *
  * CRC32C over the raw file bytes: hardware-accelerated, and the
  * fixtures are single flat parquet files (17 MB at sf0.1 — one
  * page-cached pass, re-hashed only when size/mtime changes). At
  * production scale the same role is played by a catalog snapshot id
  * (table version / commit id), not a byte hash — the contract is
  * "a stable token that changes iff the data changed", and this is
  * the strongest such token the flat-file fixtures offer.
  */
object Fixtures {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Int, Long), String]()

  /** CRC32C of the file's first/middle/last 4 KiB plus two interior
    * quarter-stride samples — the cheap content sample the memo key
    * carries ALONGSIDE (size, mtime). NARROWS (not closes — r16
    * ADVICE) the r15 coarse-mtime residual: on a filesystem storing
    * 1 ms/2 s mtimes, a same-size rewrite inside the granularity
    * window used to serve the stale cached CRC. Parquet head/tail
    * blocks carry the magic + footer metadata (row-group stats,
    * offsets), which change with almost any content change, and the
    * three interior samples catch mid-file page rewrites that leave
    * the footer byte-identical — but a rewrite confined to the gaps
    * between the five samples, same-size, inside the mtime window,
    * remains theoretically invisible. Five 4 KiB reads of a
    * page-cached file per call — negligible against what the memo
    * saves (the full-file hash).
    */
  private def contentProbe(p: java.nio.file.Path, size: Long): Long = {
    val crc = new CRC32C()
    val ch = Files.newByteChannel(p)
    try {
      def readAt(pos: Long): Unit = {
        ch.position(pos): Unit
        val bb = java.nio.ByteBuffer.allocate(4096)
        var n = ch.read(bb)
        while (n > 0 && bb.hasRemaining) n = ch.read(bb)
        bb.flip()
        crc.update(bb)
      }
      readAt(0L)
      // interior strides at 1/4, 1/2, 3/4 — only once the file is big
      // enough that they fall strictly between the head and tail
      // samples (tiny files are fully covered by head+tail already)
      if (size > 16384) {
        readAt(size / 4); readAt(size / 2); readAt(3 * (size / 4))
      }
      if (size > 4096) readAt(math.max(4096L, size - 4096))
    } finally ch.close()
    crc.getValue
  }

  /** 8-hex-digit CRC32C of one fixture table's bytes; "absent" if it
    * does not exist (a legal state for probe dirs in specs). The
    * driver writes flat single files; spec fixtures (and partitioned
    * production tables) are DIRECTORIES — those hash every contained
    * regular file in sorted order, names included, so two dir-shaped
    * fixtures with different content can never share an artifact
    * cache key.
    */
  def tableFingerprint(sfDir: String, table: String): String = {
    val p = Paths.get(sfDir, s"$table.parquet")
    def hashInto(crc: CRC32C, f: java.nio.file.Path): Unit = {
      val in = Files.newInputStream(f)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { crc.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
    }
    if (Files.isRegularFile(p)) {
      // memo key at NANOSECOND mtime resolution, and attrs re-read
      // AFTER hashing (r14 review): with a millis key, a same-size
      // rewrite landing in the same millisecond served the previous
      // fingerprint — content-keyed artifacts would silently validate
      // stale centroids/pair tables against regenerated data; and a
      // file mutated mid-hash would cache a torn CRC under the
      // pre-mutation key. If the attrs moved while hashing, return
      // the fresh hash uncached — the next call re-keys.
      // The r15 coarse-mtime residual (FAT: 2 s; some ext4 mounts:
      // 1 ms — a same-size rewrite inside the granularity window
      // served the stale CRC) is NARROWED (not closed — see
      // [[contentProbe]]'s doc) by adding the five-sample content
      // probe to the key: a rewrite mtime can't see still re-keys
      // unless it is confined to the gaps between the samples.
      def attrs() = {
        val size = Files.size(p)
        (p.toString, size,
          Files.getLastModifiedTime(p).toInstant.getEpochSecond,
          Files.getLastModifiedTime(p).toInstant.getNano,
          contentProbe(p, size))
      }
      val key = attrs()
      val cached = cache.get(key)
      if (cached != null) cached
      else {
        val crc = new CRC32C()
        hashInto(crc, p)
        val hex = f"${crc.getValue}%08x"
        if (attrs() == key) cache.put(key, hex): Unit
        hex
      }
    } else if (Files.isDirectory(p)) {
      // not memoized: spec-sized, and a dir has no single cheap
      // (size, mtime) change signal
      val crc = new CRC32C()
      scala.util.Using.resource(Files.walk(p)) { s =>
        s.iterator().asScala
          .filter(Files.isRegularFile(_)).toSeq
          .sortBy(_.toString)
          .foreach { f =>
            // name AND size in the header: without a length, dir
            // {a="1b:2"} and dir {a="1", b="2"} hash the same byte
            // stream and two different fixtures share an artifact key
            crc.update(s"${p.relativize(f)}:${Files.size(f)}:".getBytes("UTF-8"))
            hashInto(crc, f)
          }
      }
      f"${crc.getValue}%08x"
    } else "absent"
  }

  /** Combined fingerprint of every fixture table under `sfDir`. */
  def fingerprint(sfDir: String): String = {
    val crc = new CRC32C()
    Tables.names.foreach { n =>
      crc.update(s"$n:${tableFingerprint(sfDir, n)};".getBytes("UTF-8"))
    }
    f"${crc.getValue}%08x"
  }
}
