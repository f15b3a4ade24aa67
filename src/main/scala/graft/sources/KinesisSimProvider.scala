package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A real DataSource V2 micro-batch connector over the simulated
  * Kinesis transport — `spark.readStream.format("kinesis-sim")
  * .option("path", dir).option("shards", n).load()`.
  *
  * [[SimulatedKinesis.load]] consumes the shard files as plain file
  * streams; this class instead implements the CONNECTOR interface a
  * production Kinesis source implements ([[MicroBatchStream]] with
  * shard-keyed offsets), so the swap to a network connector is a
  * format-name change and nothing else:
  *
  *  - **Offsets are per-shard sequence numbers** — exactly the
  *    checkpoint token Kinesis consumers carry. `latestOffset` lists
  *    each shard's record count (sequences are dense from 0, so count
  *    == next sequence); a micro-batch reads each shard's
  *    [start, end) range.
  *  - **One InputPartition per shard** — a shard is an ordered
  *    iterator read by one task, which is how the real connector
  *    maps shards to Spark partitions (and why per-key order holds:
  *    one key → one shard → one task).
  *  - **Replay from checkpoint**: offsets serialize as JSON; after a
  *    restart, `planInputPartitions(committed, latest)` re-reads
  *    exactly the uncommitted range — the spec drives this.
  *
  * Record schema matches [[SimulatedKinesis.load]] (`data` binary,
  * `partitionKey`, `sequenceNumber`, `shardId`), so every downstream
  * pipeline stage runs unchanged on either entry point.
  *
  * The same format is also a STREAMING SINK (`writeStream
  * .format("kinesis-sim")` with (`data` binary, `partitionKey`)
  * input): tasks buffer, the driver commits each epoch atomically
  * with an idempotence marker — see [[KinesisSimStreamingWrite]].
  */
class KinesisSimProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kinesis-sim"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisSimProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new KinesisSimTable(
      (Option(properties.get("path")), Option(properties.get("endpoint"))) match {
        case (Some(p), None) => FileTransport(p)
        case (None, Some(e)) => HttpTransport(e.stripSuffix("/"))
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          "kinesis-sim takes 'path' OR 'endpoint', not both")
        case (None, None) => throw new IllegalArgumentException(
          "kinesis-sim needs option 'path' (file store) or 'endpoint' (HTTP shard service)")
      },
      Option(properties.get("shards")).map(_.toInt).getOrElse(
        throw new IllegalArgumentException("kinesis-sim needs option 'shards'")),
      Option(properties.get("maxRecordsPerTrigger")).map { v =>
        val n = v.toLong
        require(n > 0, s"maxRecordsPerTrigger must be positive, got $n")
        n
      },
      Option(properties.get("startingOffsets")).getOrElse("earliest"))
}

object KinesisSimProvider {
  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("shardId", StringType)))

  /** One shard's batch files in sequence order (name order == write
    * order — every writer zero-pads indices). The listing stream is
    * closed eagerly: `Files.list` holds a directory descriptor until
    * closed, and a long-running stream calls this every micro-batch. */
  private[sources] def shardFiles(dir: String,
                                  shard: Int): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir, s"shard-$shard")
    if (!java.nio.file.Files.isDirectory(p)) Seq.empty
    else {
      val st = java.nio.file.Files.list(p)
      try st.iterator().asScala
        .filter(_.getFileName.toString.startsWith("batch-"))
        .toSeq.sortBy(_.getFileName.toString)
      finally st.close()
    }
  }

  /** Records currently on disk for one shard, in sequence order —
    * parses the sim's fixed one-line-per-record JSON layout. */
  private[sources] def shardLines(dir: String, shard: Int): Seq[String] =
    shardFiles(dir, shard).flatMap(f =>
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").iterator.filter(_.nonEmpty))

  /** Record count of one batch file WITHOUT materializing or splitting
    * its contents: streams the bytes and counts non-empty lines. */
  private[sources] def countRecords(f: java.nio.file.Path): Long = {
    val in = java.nio.file.Files.newInputStream(f)
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

  // partitionKey admits JSON escape sequences (writers escape via
  // SimulatedKinesis.jsonEscape); sequenceNumber and data never need them
  private val Line =
    """\{"sequenceNumber":"([^"]*)","partitionKey":"((?:[^"\\]|\\.)*)","data":"([^"]*)"\}""".r

  private[sources] def parse(line: String): (String, String, Array[Byte]) =
    line match {
      case Line(sn, pk, b64) =>
        (sn, SimulatedKinesis.jsonUnescape(pk),
          java.util.Base64.getDecoder.decode(b64))
      case other =>
        throw new IllegalStateException(s"malformed sim record: $other")
    }
}

/** The consumer's transport seam: every shard's record count in one
  * call (one round trip over HTTP — a micro-batch's whole offset
  * fetch) and line ranges per shard, over the file store directly or
  * over [[ShardService]]'s wire protocol. Serializable so partitions
  * ship it to executors — the HTTP form carries only the endpoint
  * string, exactly like a real connector's client config. */
private[sources] sealed trait SimTransport extends Serializable {
  def id: String
  /** Record count (== next sequence) of each shard in 0 until nShards. */
  def recordCounts(nShards: Int): Map[Int, Long]
  def lines(shard: Int, from: Long, until: Long): Iterator[String]
}

private[sources] case class FileTransport(dir: String) extends SimTransport {
  override def id: String = dir
  // Per-file record counts keyed by (path, size, mtime): batch files
  // are append-created (never rewritten in place), so a file whose
  // size+mtime are unchanged has an unchanged count. recordCounts runs
  // every micro-batch; without this cache it would re-read every byte
  // ever written to the stream, per batch, forever.
  @transient private lazy val countCache =
    scala.collection.mutable.HashMap.empty[(String, Long, Long), Long]

  private def cachedCount(f: java.nio.file.Path): Long = {
    val key = (f.toString,
      java.nio.file.Files.size(f),
      java.nio.file.Files.getLastModifiedTime(f).toMillis)
    countCache.getOrElseUpdate(key, KinesisSimProvider.countRecords(f))
  }

  override def recordCounts(nShards: Int): Map[Int, Long] =
    (0 until nShards).map { s =>
      s -> KinesisSimProvider.shardFiles(dir, s).map(cachedCount).sum
    }.toMap

  override def lines(shard: Int, from: Long, until: Long): Iterator[String] = {
    // SEEK, don't skip (the fix ShardService's /records got in round
    // 8, applied to the file transport too): cumulative cached
    // per-file counts jump straight to the first file containing
    // `from`, and files load LAZILY one at a time — a range read
    // touches only the files it covers, so a long-running stream's
    // per-batch tail reads stay O(batch), not O(history). Positioning
    // is Long-safe throughout (slice(Int, Int) would silently
    // truncate a shard past 2^31 records).
    val files = KinesisSimProvider.shardFiles(dir, shard)
    var base = 0L
    var idx = 0
    while (idx < files.length && base + cachedCount(files(idx)) <= from) {
      base += cachedCount(files(idx)); idx += 1
    }
    val it = files.iterator.drop(idx).flatMap { f =>
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n").iterator.filter(_.nonEmpty)
    }
    var skipped = base
    while (skipped < from && it.hasNext) { it.next(); skipped += 1 }
    new Iterator[String] {
      private var remaining = until - from
      override def hasNext: Boolean = remaining > 0 && it.hasNext
      override def next(): String = { remaining -= 1; it.next() }
    }
  }
}

private[sources] case class HttpTransport(endpoint: String) extends SimTransport {
  override def id: String = endpoint
  override def recordCounts(nShards: Int): Map[Int, Long] = {
    val all = ShardService.Client.latestAll(endpoint)
    require(all.size >= nShards,
      s"$endpoint serves ${all.size} shards, the source asked for $nShards")
    all.filter(_._1 < nShards)
  }
  override def lines(shard: Int, from: Long, until: Long): Iterator[String] =
    ShardService.Client.records(endpoint, shard, from, until)
}

private[sources] class KinesisSimTable(transport: SimTransport, nShards: Int,
                                       maxRecordsPerTrigger: Option[Long] = None,
                                       startingOffsets: String = "earliest")
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"kinesis-sim:${transport.id}"
  override def schema(): StructType = KinesisSimProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KinesisSimProvider.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new KinesisSimMicroBatchStream(transport, nShards,
            maxRecordsPerTrigger, startingOffsets)
        // BATCH read of the retained stream (Kafka's batch mode): a
        // bootstrap job seeds its sink with `spark.read` over the
        // same table, then streams from startingOffsets=latest —
        // no side-channel file reading. One partition per shard,
        // snapshotted at planning time.
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          new org.apache.spark.sql.connector.read.Batch {
            override def planInputPartitions(): Array[InputPartition] =
              transport.recordCounts(nShards).toSeq.sorted.collect {
                case (s, n) if n > 0 => KinesisSimPartition(transport, s, 0L, n)
              }.toArray
            override def createReaderFactory(): PartitionReaderFactory =
              new PartitionReaderFactory {
                override def createReader(p: InputPartition)
                    : PartitionReader[InternalRow] =
                  new KinesisSimReader(p.asInstanceOf[KinesisSimPartition])
              }
          }
      }
    }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // the transactional sink commits epochs into the store directory
    // itself (atomic-move files + epoch markers); the HTTP endpoint
    // offers plain PutRecords (ShardService POST /records,
    // at-least-once with idempotency keys) — a different contract, so
    // the exactly-once sink stays file-backed and says so
    val path = transport match {
      case FileTransport(dir) => dir
      case _: HttpTransport => throw new IllegalArgumentException(
        "kinesis-sim sink needs option 'path' — the exactly-once epoch " +
          "commit is file-backed; over HTTP use ShardService.Client" +
          ".putRecords (at-least-once + idempotency key)")
    }
    val schema = info.schema()
    require(schema.fieldNames.contains("data") &&
      schema.fieldNames.contains("partitionKey"),
      s"kinesis-sim sink needs (data, partitionKey) columns, got " +
        schema.fieldNames.mkString(", "))
    require(schema(schema.fieldIndex("data")).dataType == BinaryType,
      "kinesis-sim sink: data must be BINARY (cast strings on the way in)")
    require(schema(schema.fieldIndex("partitionKey")).dataType == StringType,
      "kinesis-sim sink: partitionKey must be STRING")
    new WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toStreaming: StreamingWrite =
            new KinesisSimStreamingWrite(path, nShards,
              schema.fieldIndex("data"), schema.fieldIndex("partitionKey"))
        }
    }
  }
}

/** Offset = next sequence number per shard, JSON `{"0":5,"1":3}`.
  * Hand-rolled (de)serialization keeps the token readable in the
  * checkpoint's offsets/ log, like the real connector's. */
private[sources] case class ShardOffsets(next: Map[Int, Long]) extends Offset {
  override def json(): String =
    next.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
}

private[sources] object ShardOffsets {
  def parse(json: String): ShardOffsets = {
    val body = json.trim.stripPrefix("{").stripSuffix("}").trim
    if (body.isEmpty) ShardOffsets(Map.empty)
    else ShardOffsets(body.split(",").map { kv =>
      val Array(k, v) = kv.split(":")
      k.trim.stripPrefix("\"").stripSuffix("\"").toInt -> v.trim.toLong
    }.toMap)
  }
}

private[sources] class KinesisSimMicroBatchStream(
    transport: SimTransport, nShards: Int,
    maxRecordsPerTrigger: Option[Long] = None,
    startingOffsets: String = "earliest")
    extends MicroBatchStream with SupportsAdmissionControl {

  // The uncapped latest offsets of the last fetch. Spark calls
  // reportLatestOffset right after latestOffset(start, limit) in the
  // same trigger; returning these saves a second round trip (the
  // pattern Spark's Kafka source uses). Under maxRecordsPerTrigger
  // this is the true latest, not the capped end.
  private var lastFetched: Option[ShardOffsets] = None

  private def fetchLatest(): ShardOffsets = {
    val latest = ShardOffsets(transport.recordCounts(nShards))
    lastFetched = Some(latest)
    latest
  }

  /** Where a FRESH query (no checkpoint) starts — the production
    * connector contract: `earliest` replays the retained stream,
    * `latest` consumes only records produced after the query starts
    * (the bootstrap-then-stream pattern: batch-seed the sink from the
    * store, stream from `latest`), or an explicit JSON shard map
    * `{"0":5,"1":3}` resumes at exact sequence positions. A restart
    * from a checkpoint never calls this — the engine replays the
    * checkpointed offset, so `latest` cannot lose data across
    * restarts of the same query lineage. */
  override def initialOffset(): Offset = startingOffsets match {
    case "earliest" => ShardOffsets((0 until nShards).map(_ -> 0L).toMap)
    case "latest" => fetchLatest()
    case json =>
      val o = ShardOffsets.parse(json)
      require(o.next.keys.forall(_ < nShards),
        s"startingOffsets names shards outside 0..${nShards - 1}: $json")
      ShardOffsets((0 until nShards).map(s => s -> o.next.getOrElse(s, 0L)).toMap)
  }

  override def latestOffset(): Offset = fetchLatest()

  // ---- admission control (maxRecordsPerTrigger) ----
  // The backpressure surface every production connector exposes
  // (Kafka's maxOffsetsPerTrigger, Kinesis's per-shard fetch limits):
  // a flood on the transport becomes ceil(total/max) bounded
  // micro-batches instead of one giant catch-up batch that overwhelms
  // state stores and sinks. Spark calls the 2-arg latestOffset when
  // this interface is present; the cap distributes rows across shards
  // by water-filling (equal quotas, spare capacity redistributed) so
  // one hot shard cannot starve the others — deterministic given the
  // same start offset and files.

  override def getDefaultReadLimit: ReadLimit =
    maxRecordsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val trueLatest = fetchLatest().next
    val cap = limit match {
      case r: ReadMaxRows => Some(r.maxRows())
      case _              => None
    }
    cap match {
      case None => ShardOffsets(trueLatest)
      case Some(maxRows) =>
        val s = start.asInstanceOf[ShardOffsets].next
        val avail = trueLatest.map { case (sh, n) =>
          sh -> math.max(0L, n - s.getOrElse(sh, 0L))
        }
        if (avail.values.sum <= maxRows) ShardOffsets(trueLatest)
        else {
          val take = scala.collection.mutable.Map.empty[Int, Long]
            .withDefaultValue(0L)
          var rem = maxRows
          var spare = avail.toSeq.sortBy(_._1).filter(_._2 > 0)
          while (rem > 0 && spare.nonEmpty) {
            val quota = math.max(1L, rem / spare.size)
            spare = spare.flatMap { case (sh, a) =>
              if (rem == 0) Some(sh -> a)
              else {
                val t = math.min(math.min(a, quota), rem)
                take(sh) += t
                rem -= t
                if (a - t > 0) Some(sh -> (a - t)) else None
              }
            }
          }
          ShardOffsets(avail.keys.map { sh =>
            sh -> (s.getOrElse(sh, 0L) + take(sh))
          }.toMap)
        }
    }
  }

  override def reportLatestOffset(): Offset =
    lastFetched.getOrElse(fetchLatest())

  override def deserializeOffset(json: String): Offset = {
    val o = ShardOffsets.parse(json)
    // a restart with a smaller `shards` option would otherwise
    // silently drop the checkpointed progress of shards >= nShards —
    // fail loud instead (resharding is not part of the sim contract)
    val stale = o.next.keys.filter(_ >= nShards)
    require(stale.isEmpty,
      s"checkpoint has offsets for shards ${stale.mkString(",")} but the " +
        s"source was restarted with shards=$nShards; restart with at " +
        s"least ${o.next.keys.max + 1} shards")
    o
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].next
    val e = end.asInstanceOf[ShardOffsets].next
    // union of configured and checkpointed shard ids: progress in the
    // offset map is never silently discarded
    (s.keySet ++ e.keySet ++ (0 until nShards)).toSeq.sorted.flatMap { shard =>
      val from = s.getOrElse(shard, 0L)
      val until = e.getOrElse(shard, 0L)
      if (until > from) Some(KinesisSimPartition(transport, shard, from, until))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new KinesisSimReader(partition.asInstanceOf[KinesisSimPartition])
    }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class KinesisSimPartition(transport: SimTransport,
                                                shard: Int,
                                                from: Long, until: Long)
    extends InputPartition

/** A task's buffered records, shipped to the driver for the commit. */
private[sources] case class SimRecords(
    partitionId: Int, records: Seq[(Array[Byte], String)])
    extends WriterCommitMessage

/** Streaming SINK half: tasks buffer (data, partitionKey) rows and the
  * DRIVER commits each epoch — the transactional-sink pattern. A
  * single committer is what preserves the transport's global contract
  * (per-shard strictly-increasing sequence numbers across epochs,
  * which per-task writers racing on shard files could not give).
  * Exactly-once, crash-safe at every boundary:
  *  - each shard's epoch data lands via write-to-temp + ATOMIC_MOVE,
  *    so a partially-written file is never visible to readers (the
  *    temp name doesn't match the `batch-` prefix);
  *  - the final file name embeds the epoch (`batch-NNNNNN-epoch-E
  *    .json`), so a commit retried after a mid-loop crash detects and
  *    SKIPS shards that already hold this epoch's records — no
  *    double-append, whichever instruction the crash interrupted;
  *  - the `_epochs/` marker, written last, makes a fully-committed
  *    retry a no-op without touching shard dirs.
  * CONTRACT: an output path belongs to ONE query lineage. Both the
  * epoch-skip and the `_epochs/` markers key on the epochId alone, so
  * a FRESH query (epochs restarting at 0, i.e. a new checkpoint
  * location) pointed at a path that already holds epoch-tagged files
  * would silently skip its early batches as "already committed".
  * Resuming the same query from its checkpoint is the supported
  * restart path; a new lineage gets a new output path.
  * PutRecords semantics (key→shard hash, batch files, monotone
  * mtimes, zero-padded name order) match [[SimulatedKinesis
  * .ShardedProducer]], so either entry point feeds the same readers. */
private[sources] class KinesisSimStreamingWrite(path: String, nShards: Int,
    dataIdx: Int, pkIdx: Int) extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    // a standalone case class, NOT an anonymous inner class: the
    // factory ships to executors and must not capture this (the
    // driver-side committer is deliberately not Serializable)
    KinesisSimWriterFactory(dataIdx, pkIdx)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val marker = java.nio.file.Paths.get(path, "_epochs", s"epoch-$epochId")
    if (java.nio.file.Files.exists(marker)) return
    java.nio.file.Files.createDirectories(marker.getParent)
    val recs = messages.collect { case m: SimRecords => m }
      .sortBy(_.partitionId).toSeq.flatMap(_.records)
    recs.groupBy { case (_, pk) =>
        SimulatedKinesis.shardFor(pk, nShards)
      }
      .toSeq.sortBy(_._1)
      .foreach { case (shard, rs) =>
        val dirP = java.nio.file.Paths.get(path, s"shard-$shard")
        java.nio.file.Files.createDirectories(dirP)
        val existingFiles = KinesisSimProvider.shardFiles(path, shard)
        // retried commit after a crash mid-loop: this shard already
        // holds this epoch's file — appending again would duplicate
        if (existingFiles.exists(
            _.getFileName.toString.endsWith(s"-epoch-$epochId.json")))
          ()
        else {
          var seq = existingFiles.map(KinesisSimProvider.countRecords).sum
          val batchIdx = existingFiles.size
          val lastMtime = (0L +: existingFiles.map(f =>
            java.nio.file.Files.getLastModifiedTime(f).toMillis)).max
          val lines = rs.map { case (data, pk) =>
            val b64 = java.util.Base64.getEncoder.encodeToString(data)
            val l =
              s"""{"sequenceNumber":"$seq","partitionKey":"${SimulatedKinesis.jsonEscape(pk)}","data":"$b64"}"""
            seq += 1
            l
          }
          val tmp = dirP.resolve(f".tmp-epoch-$epochId%d")
          java.nio.file.Files.write(tmp,
            (lines.mkString("\n") + "\n").getBytes("UTF-8"))
          java.nio.file.Files.setLastModifiedTime(tmp,
            java.nio.file.attribute.FileTime.fromMillis(
              math.max(lastMtime + 1000L, System.currentTimeMillis())))
          java.nio.file.Files.move(tmp,
            dirP.resolve(f"batch-$batchIdx%06d-epoch-$epochId%d.json"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        }
      }
    java.nio.file.Files.write(marker, Array.emptyByteArray)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case class KinesisSimWriterFactory(dataIdx: Int, pkIdx: Int)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new KinesisSimDataWriter(partitionId, dataIdx, pkIdx)
}

private[sources] class KinesisSimDataWriter(partitionId: Int,
    dataIdx: Int, pkIdx: Int) extends DataWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer
    .empty[(Array[Byte], String)]
  override def write(row: InternalRow): Unit =
    buf += ((row.getBinary(dataIdx), row.getUTF8String(pkIdx).toString))
  override def commit(): WriterCommitMessage =
    SimRecords(partitionId, buf.toSeq)
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}

/** Reads one shard's [from, until) sequence range. Sequences are the
  * line ordinal across the shard's batch files (dense from 0), so the
  * range is a slice of the concatenated files — the sim's equivalent
  * of a GetRecords iterator positioned at a sequence number. */
private[sources] class KinesisSimReader(p: KinesisSimPartition)
    extends PartitionReader[InternalRow] {
  // range slicing lives in the transport (file skip-iterate or HTTP
  // range fetch); either way the reader sees the same line format
  private val lines: Iterator[String] =
    p.transport.lines(p.shard, p.from, p.until)
  private var current: InternalRow = _

  override def next(): Boolean =
    if (!lines.hasNext) false
    else {
      val (sn, pk, data) = KinesisSimProvider.parse(lines.next())
      current = InternalRow(
        data,
        UTF8String.fromString(pk),
        UTF8String.fromString(sn),
        UTF8String.fromString(s"shard-${p.shard}"))
      true
    }

  override def get(): InternalRow = current
  override def close(): Unit = ()
}
