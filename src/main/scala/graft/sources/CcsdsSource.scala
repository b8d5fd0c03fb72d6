package graft.sources

import java.io.{ByteArrayInputStream, Closeable, InputStream}

import graft.telemetry.PacketRow
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CCSDS space-packet stream walker: the one decoder behind every packet
  * reader.
  *
  * Behavior of the reference binary extractor
  * (/root/reference/src/mdp/plugins/extractors/binary.py:58-136): find
  * the optional 0x1ACFFC1D sync marker, decode the 6-byte primary header,
  * apply the APID filter during the walk, split off the secondary header.
  * [[Walker]] reads from an `open(offset)` function, so the `ccsds` V2
  * source (`v2/CcsdsDataSource.scala`) walks a Hadoop stream split by
  * split and [[parseStream]] walks an in-memory byte array — the packet
  * file-stream's per-file bytes (the V2 source is batch-only) and test
  * fixtures. The reference's `batch_size` disappears (Spark partitions
  * replace hand batching).
  *
  * The reference resyncs by `continue` after a failed 6-byte header parse
  * (binary.py:94-97); since any 6 bytes parse structurally, the only real
  * error paths are truncation (drop tail, as the reference does) and the
  * sync-marker scan.
  */
object CcsdsSource {

  val SyncMarker: Array[Byte] =
    Array(0x1a.toByte, 0xcf.toByte, 0xfc.toByte, 0x1d.toByte)
  private val MarkerWord = 0x1acffc1d
  val HeaderSize = 6

  /** The reader's inputs; [[Options.parse]] reads them from the `ccsds`
    * source's option map. `resyncWindow`: the longest garbage run allowed
    * between a framed packet and the next marker when a mid-stream split
    * validates its first candidate (see [[Walker]]). `splitSize`: the
    * length of a framed file's splits (Spark packs splits into
    * partitions). `apidFilter` is no option: the source sets it from a
    * pushed-down `apid` predicate.
    */
  case class Options(
      secHdrLength: Int = 0,
      frameSync: Boolean = false,
      apidFilter: Option[Seq[Int]] = None,
      sourceId: Option[String] = None,
      groundReceiptTime: Option[Double] = None,
      resyncWindow: Int = 0,
      splitSize: Long = 128L << 20) {
    require(secHdrLength >= 0, s"ccsds source: sec_hdr_length must be >= 0, got $secHdrLength")
    require(resyncWindow >= 0, s"ccsds source: resync_window must be >= 0, got $resyncWindow")
    // the walker scans resyncWindow + 4 bytes; past Int.MaxValue that sum
    // wraps negative and every mid-stream split would drop its packets
    require(resyncWindow <= Int.MaxValue - 4,
      s"ccsds source: resync_window must be <= ${Int.MaxValue - 4}, got $resyncWindow")
    require(splitSize > 0, s"ccsds source: split_size must be > 0, got $splitSize")
  }

  object Options {

    /** The `ccsds` source's option keys besides `path`. */
    private val Keys: Seq[String] = Seq("sec_hdr_length", "frame_sync", "source_id",
      "ground_receipt_time", "resync_window", "split_size")

    /** The options of a `ccsds` read (keys case-insensitive, as Spark's
      * are). Any key but these six and `path` is rejected: a typo'd
      * option would otherwise fall back to its default without a word.
      * Every parse or range error is an `IllegalArgumentException` that
      * names its key.
      */
    def parse(options: Map[String, String]): Options = {
      val o = options.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }
      val unknown = o.keySet -- Keys - "path"
      require(unknown.isEmpty, s"ccsds source: unknown option(s) " +
        s"${unknown.toSeq.sorted.mkString(", ")}; known: ${(Keys :+ "path").mkString(", ")}")
      def get[T](key: String, kind: String)(read: String => T): Option[T] =
        o.get(key).map(v => scala.util.Try(read(v)).getOrElse(
          throw new IllegalArgumentException(s"ccsds source: $key must be $kind, got '$v'")))
      val d = Options()
      Options(
        secHdrLength = get("sec_hdr_length", "an integer")(_.toInt).getOrElse(d.secHdrLength),
        frameSync = get("frame_sync", "true or false")(_.toBoolean).getOrElse(d.frameSync),
        sourceId = o.get("source_id"),
        groundReceiptTime = get("ground_receipt_time", "a number")(_.toDouble),
        resyncWindow = get("resync_window", "an integer")(_.toInt).getOrElse(d.resyncWindow),
        splitSize = get("split_size", "an integer")(_.toLong).getOrElse(d.splitSize))
    }
  }

  /** Walks the packets whose sync marker (or, unframed, whose first byte)
    * lies in [start, end) and that pass the APID filter. Reads ahead past
    * `end` to finish the last owned packet; memory is O(max packet size),
    * not O(stream size) — unlike the reference, which reads the whole file
    * into RAM (binary.py:71-73).
    *
    * `open(offset)` returns a stream positioned at `offset`. It is called
    * again only to reposition after a suspect first candidate, and may
    * reuse one underlying stream; `close` closes the last one returned.
    */
  final class Walker(
      open: Long => InputStream, start: Long, end: Long, opts: Options)
      extends Closeable {

    private var in = open(start)
    private var pos = start

    private def seekTo(p: Long): Unit = { in = open(p); pos = p }

    /** Skips to just past the next marker; false at EOF or when that
      * marker starts at or after `end` (the next split owns it).
      */
    private def seekToMarker(): Boolean = {
      var win = 0 // the last four bytes read
      var filled = 0
      while (true) {
        val b = in.read()
        if (b < 0) return false
        pos += 1
        win = (win << 8) | b
        if (filled < 4) filled += 1
        if (filled == 4 && win == MarkerWord) return pos - 4 < end
      }
      false
    }

    private def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) return null
        off += r
      }
      pos += n
      buf
    }

    // The first marker a mid-stream split finds is SUSPECT: the split
    // start can land inside a packet whose payload happens to contain the
    // sync pattern. Validate the first candidate by requiring the NEXT
    // marker (or EOF) to start within `resyncWindow` bytes of the parsed
    // packet's end — a packet parsed out of payload garbage has an
    // arbitrary data_length, so its end does not line up with the real
    // framing. The default window of 0 (marker immediately follows, the
    // gapless-CADU layout) rejects nearly all false syncs; streams with
    // inter-packet garbage must set resync_window >= their max garbage run
    // and accept the correspondingly weaker check. Later markers are
    // reached sequentially from a validated packet and need no check.
    private var validated = start == 0 || !opts.frameSync

    /** Consumes up to resyncWindow+4 bytes: true iff EOF or a marker
      * STARTS within resyncWindow bytes (a marker cut short by EOF counts).
      * Caller repositions via seekTo.
      */
    private def followedByMarkerOrEof(): Boolean = {
      var win = 0
      var scanned = 0
      while (scanned < opts.resyncWindow + 4) {
        val b = in.read()
        // EOF validates only if it falls within the window itself: a fake
        // packet ending a few bytes shy of EOF must NOT pass — unless those
        // bytes are the head of a last marker that the file cuts short
        if (b < 0) return scanned - cutMarkerLength(win, scanned) <= opts.resyncWindow
        scanned += 1
        win = (win << 8) | b
        if (scanned >= 4 && win == MarkerWord) return scanned - 4 <= opts.resyncWindow
      }
      false
    }

    /** Length of the longest proper marker prefix the window ends with. */
    private def cutMarkerLength(win: Int, filled: Int): Int =
      (math.min(filled, 3) to 1 by -1).find { k =>
        (win & ((1 << (8 * k)) - 1)) == MarkerWord >>> (8 * (4 - k))
      }.getOrElse(0)

    /** The next owned packet passing the APID filter, or null at the end. */
    def nextPacket(): PacketRow = {
      while (true) {
        var candidateMarkerEnd = -1L
        if (opts.frameSync) {
          if (!seekToMarker()) return null
          candidateMarkerEnd = pos
        } else if (pos >= end) return null
        val header = readFully(HeaderSize)
        if (header == null) return null
        val word0 = ((header(0) & 0xff) << 8) | (header(1) & 0xff)
        val word1 = ((header(2) & 0xff) << 8) | (header(3) & 0xff)
        val word2 = ((header(4) & 0xff) << 8) | (header(5) & 0xff)
        val apid = word0 & 0x7ff
        val dataField = readFully(word2 + 1)
        if (dataField == null) {
          if (validated) return null // truncated tail
          seekTo(candidateMarkerEnd) // false sync at the tail: rescan after it
        } else {
          if (!validated) {
            val packetEnd = pos
            if (followedByMarkerOrEof()) {
              seekTo(packetEnd) // validated: resume exactly after the packet
              validated = true
            } else {
              seekTo(candidateMarkerEnd) // spurious in-payload marker
            }
          }
          if (validated && opts.apidFilter.forall(_.contains(apid))) {
            val secFlag = (word0 >> 11) & 0x1
            val secLen = if (secFlag == 1) math.min(opts.secHdrLength, dataField.length) else 0
            return PacketRow(
              version = (word0 >> 13) & 0x7,
              type_flag = (word0 >> 12) & 0x1,
              sec_hdr_flag = secFlag,
              apid = apid,
              seq_flags = (word1 >> 14) & 0x3,
              seq_count = word1 & 0x3fff,
              data_length = word2,
              secondary_header = java.util.Arrays.copyOfRange(dataField, 0, secLen),
              user_data = java.util.Arrays.copyOfRange(dataField, secLen, dataField.length),
              source_time_tai = None,
              ground_receipt_time = opts.groundReceiptTime,
              source_id = opts.sourceId)
          }
          // loop: filtered out, or rescanning after a rejected candidate
        }
      }
      null
    }

    override def close(): Unit = in.close()
  }

  /** Walk one whole in-memory packet stream into rows (pure; test-friendly). */
  def parseStream(bytes: Array[Byte], opts: Options): Iterator[PacketRow] = {
    val walker = new Walker(
      off => new ByteArrayInputStream(bytes, off.toInt, bytes.length - off.toInt),
      0L, bytes.length, opts)
    Iterator.continually(walker.nextPacket()).takeWhile(_ != null)
  }

  /** In-memory variant for fixtures/tests. */
  def packetsFromBytes(spark: SparkSession, streams: Seq[Array[Byte]], opts: Options = Options()): DataFrame = {
    import spark.implicits._
    spark.createDataset(streams).flatMap(parseStream(_, opts)).toDF()
  }
}
