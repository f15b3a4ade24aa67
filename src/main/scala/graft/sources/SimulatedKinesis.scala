package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.jdk.CollectionConverters._

/** The shard store: a file-backed simulation of a Kinesis stream,
  * faithful to the producer/consumer contract the reference exercises
  * (functions.js:206-232: `PutRecords` of `{Data, PartitionKey}`
  * batches; the consumer sees `data/partitionKey/sequenceNumber` per
  * record) — the honest stand-in for SURVEY S4/S5 in an offline build
  * where no AWS endpoint or connector jar exists. This object is the
  * only code that knows the on-disk format; the `kinesis-sim` source
  * and sink ([[KinesisSimProvider]]) and [[ShardService]] go through it.
  *
  * Layout: `dir/shard-N/batch-%06d.json` (or `batch-%06d-epoch-E.json`
  * for a sink epoch), one JSON record line per record. File index order
  * is write order, and a record's sequence number is its line ordinal
  * across its shard's files, dense from 0.
  *
  * Semantics simulated, not hand-waved:
  *  - **Sharding**: a record lands on shard `hash(partitionKey) mod
  *    nShards` — every record of one partition key goes to ONE shard,
  *    which is the mechanism Kinesis uses to give per-key ordering.
  *  - **PutRecords flush limit**: a single call carries at most 500
  *    records (the API cap the reference's 1 s flush loop relies on
  *    staying under); [[ShardedProducer.putBytes]] enforces it by
  *    splitting, like the AWS SDK caller must.
  *  - **Per-shard sequence numbers**: strictly increasing longs
  *    assigned at write, never reused across flushes, producers or
  *    restarts — the consumer can (and the specs do) assert per-key
  *    arrival order by them.
  *
  * CONTRACT: one writer at a time per store. A [[ShardedProducer]]
  * reads each shard's next sequence and file index from disk when it
  * is constructed and keeps them in memory, so two producers open on
  * one directory at once would assign the same sequences. Readers may
  * run concurrently with the writer: a batch file appears whole
  * (write-to-temp + atomic move) or not at all.
  */
object SimulatedKinesis {

  /** PutRecords API cap: records per call. */
  val MaxRecordsPerPut = 500

  /** Shard assignment: deterministic hash of the partition key. Real
    * Kinesis buckets an MD5 of the key over the shard hash-key ranges;
    * any fixed hash gives the property that matters — one key, one
    * shard. */
  def shardFor(partitionKey: String, nShards: Int): Int = {
    val h = java.util.Arrays.hashCode(partitionKey.getBytes(UTF_8))
    math.floorMod(h, nShards)
  }

  /** A shard's id: its directory name and the connector's `shardId`. */
  def shardId(shard: Int): String = s"shard-$shard"

  /** Minimal JSON string escaping for the record line's partitionKey
    * field — quote, backslash, and control chars (as \uXXXX): exactly
    * the characters that would break the one-line-per-record framing
    * or the quoted-field parse. Data needs none (base64). The HTTP
    * producer wire ([[ShardService]]) escapes with the same rules. */
  private[sources] def jsonEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.toString
  }

  /** Inverse of [[jsonEscape]] (also tolerates the standard JSON
    * short escapes a hand-written client might send). */
  private[sources] def jsonUnescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '/' => sb.append('/'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** One record line: compact JSON, no library needed; data is base64
    * so the payload never fights the JSON escaping rules. */
  private[sources] def encode(seq: Long, partitionKey: String,
                              data: Array[Byte]): String = {
    val b64 = java.util.Base64.getEncoder.encodeToString(data)
    s"""{"sequenceNumber":"$seq","partitionKey":"${jsonEscape(partitionKey)}","data":"$b64"}"""
  }

  private val Line =
    """\{"sequenceNumber":"([^"]*)","partitionKey":"((?:[^"\\]|\\.)*)","data":"([^"]*)"\}""".r

  /** Inverse of [[encode]]: (sequenceNumber, partitionKey, data). */
  private[sources] def decode(line: String): (String, String, Array[Byte]) =
    line match {
      case Line(sn, pk, b64) =>
        (sn, jsonUnescape(pk), java.util.Base64.getDecoder.decode(b64))
      case other =>
        throw new IllegalStateException(s"malformed sim record: $other")
    }

  private def shardDir(dir: String, shard: Int): Path = Paths.get(dir, shardId(shard))

  /** A batch file's index, the digits after `batch-`. */
  private def fileIndex(f: Path): Long =
    f.getFileName.toString.drop("batch-".length).takeWhile(_.isDigit).toLong

  /** One shard's batch files in index order (== write order; numeric,
    * so a shard past 999,999 files keeps its order). The listing
    * stream is closed eagerly: `Files.list` holds a directory
    * descriptor until closed, and a long-running stream calls this
    * every micro-batch. Dot-prefixed temp files never match. */
  private[sources] def files(dir: String, shard: Int): Seq[Path] = {
    val p = shardDir(dir, shard)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val st = Files.list(p)
      try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("batch-"))
        .map(f => fileIndex(f) -> f).toSeq.sortBy(_._1).map(_._2)
      finally st.close()
    }
  }

  /** Record count of one batch file WITHOUT materializing or splitting
    * its contents: streams the bytes and counts non-empty lines. */
  private[sources] def countRecords(f: Path): Long = {
    val in = Files.newInputStream(f)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = 0L
      var lineHasContent = false
      var read = in.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) {
          if (buf(i) == '\n') {
            if (lineHasContent) n += 1
            lineHasContent = false
          } else lineHasContent = true
          i += 1
        }
        read = in.read(buf)
      }
      if (lineHasContent) n + 1 else n
    } finally in.close()
  }

  // Per-file record counts keyed by (path, size, mtime): batch files
  // are created whole and never rewritten in place, so a file whose
  // size and mtime are unchanged has an unchanged count. Offsets are
  // fetched every micro-batch and every /latest; without this cache
  // each would re-read every byte ever written to the stream.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  private def cacheKey(f: Path): (String, Long, Long) = {
    val a = Files.readAttributes(f, classOf[BasicFileAttributes])
    (f.toString, a.size, a.lastModifiedTime.toMillis)
  }

  private def cachedCount(f: Path): Long =
    countCache.computeIfAbsent(cacheKey(f), _ => countRecords(f)).longValue

  /** Record count (== next sequence) of one shard. */
  private[sources] def count(dir: String, shard: Int): Long =
    files(dir, shard).map(cachedCount).sum

  /** Record count (== next sequence) of each shard in 0 until nShards. */
  private[sources] def counts(dir: String, nShards: Int): Map[Int, Long] =
    (0 until nShards).map(s => s -> count(dir, s)).toMap

  /** One shard's record lines in the half-open sequence range
    * [from, until). SEEK, don't skip: cumulative cached per-file counts
    * jump straight to the first file containing `from`, and files load
    * lazily one at a time, so a range read touches only the files it
    * covers — a tail read stays O(batch), not O(history). Positioning
    * is Long-safe throughout. */
  private[sources] def lines(dir: String, shard: Int, from: Long = 0L,
                             until: Long = Long.MaxValue): Iterator[String] = {
    val fs = files(dir, shard)
    var base = 0L
    var idx = 0
    while (idx < fs.length && base + cachedCount(fs(idx)) <= from) {
      base += cachedCount(fs(idx)); idx += 1
    }
    val it = fs.iterator.drop(idx).flatMap { f =>
      new String(Files.readAllBytes(f), UTF_8).split("\n").iterator.filter(_.nonEmpty)
    }
    var skipped = base
    while (skipped < from && it.hasNext) { it.next(); skipped += 1 }
    new Iterator[String] {
      private var remaining = until - from
      override def hasNext: Boolean = remaining > 0 && it.hasNext
      override def next(): String = { remaining -= 1; it.next() }
    }
  }

  /** The store's one writer: appends batch files under `dir/shard-N/`.
    * Each shard's next sequence and file index are read from disk HERE,
    * once, so a producer opened on an existing store (a restarted
    * service, a sink epoch after a producer) continues it. Not
    * thread-safe, and one writer at a time per store (see the object's
    * contract) — one producer instance per simulated client, like one
    * SDK client. */
  final class ShardedProducer(dir: String, nShards: Int) {
    require(nShards >= 1, "need at least one shard")
    private val existing = Array.tabulate(nShards) { s =>
      Files.createDirectories(shardDir(dir, s))
      files(dir, s)
    }
    private val nextSeq = existing.map(_.map(cachedCount).sum)
    private val nextFile = existing.map(_.lastOption.fold(0L)(fileIndex(_) + 1))

    /** One PutRecords call: (data, partitionKey) pairs, data stored
      * as raw bytes. Splits into ≤500-record chunks (the API rejects
      * larger calls); each chunk writes one batch file per shard
      * touched. Returns the number of API calls made. */
    def putBytes(records: Seq[(Array[Byte], String)]): Int = {
      val calls = records.grouped(MaxRecordsPerPut).toSeq
      calls.foreach { call =>
        call.groupBy { case (_, pk) => shardFor(pk, nShards) }
          .toSeq.sortBy(_._1)
          .foreach { case (shard, recs) => append(shard, recs) }
      }
      calls.size
    }

    /** [[putBytes]] with each record's data encoded as UTF-8. */
    def putRecords(records: Seq[(String, String)]): Int =
      putBytes(records.map { case (data, pk) => (data.getBytes(UTF_8), pk) })

    /** Whether `shard` held a sink epoch's file when this producer
      * opened — the sink's guard against re-appending a retried epoch. */
    private[sources] def holdsEpoch(shard: Int, epochId: Long): Boolean =
      existing(shard).exists(_.getFileName.toString.endsWith(s"-epoch-$epochId.json"))

    /** Appends `records` (data, partitionKey) to `shard` as its next
      * batch file, tagged with `epoch` when a sink epoch writes it. The
      * file is written under a dot-prefixed temp name and moved into
      * place atomically, so readers never see a partial file. */
    private[sources] def append(shard: Int, records: Seq[(Array[Byte], String)],
                                epoch: Option[Long] = None): Unit = {
      val first = nextSeq(shard)
      val body = new StringBuilder
      records.iterator.zipWithIndex.foreach { case ((data, pk), i) =>
        body.append(encode(first + i, pk, data)).append('\n')
      }
      val name = f"batch-${nextFile(shard)}%06d" +
        epoch.fold("")(e => s"-epoch-$e") + ".json"
      val tmp = shardDir(dir, shard).resolve("." + name)
      Files.write(tmp, body.toString.getBytes(UTF_8))
      val f = Files.move(tmp, tmp.resolveSibling(name),
        StandardCopyOption.ATOMIC_MOVE)
      // the writer knows the count, so no reader re-reads the file for it
      countCache.put(cacheKey(f), records.size.toLong)
      nextSeq(shard) += records.size
      nextFile(shard) += 1
    }
  }
}
