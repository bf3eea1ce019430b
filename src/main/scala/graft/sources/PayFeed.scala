package graft.sources

import java.time.Instant
import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `payfeed` — a managed-stream connector binding as a DataSourceV2
  * micro-batch source, registered under a short format name so
  * `spark.readStream.format("payfeed").options(...)` (what
  * [[graft.streaming.PaymentStream.fromFeed]] calls) resolves it exactly the
  * way a production Kinesis-style connector jar would resolve its own
  * format (kinesis-pay.php:17-18 names the live API endpoints the
  * reference integrates against; this class is the Spark-side shape of
  * that integration).
  *
  * The source is a deterministic STUB of the managed stream — the
  * network is faked, the connector contract is real:
  *
  *  - **Offsets** are poll-round counters, serialized into the query
  *    checkpoint. `planInputPartitions(start, end)` regenerates
  *    EXACTLY the records of rounds `(start, end]` — the replayability
  *    contract a sequence-numbered shard log provides, and the reason
  *    checkpoint recovery is exactly-once end-to-end.
  *  - **Shards** become one [[InputPartition]] each per micro-batch,
  *    so a 512-shard stream fans out to 512 parallel readers — the
  *    scale shape; no driver-side record funnel.
  *  - **Options** flow `.options(...)` → [[TableProvider.getTable]] →
  *    scan → partitions; the spec proves pass-through by observing
  *    their effect on the emitted rows.
  *  - **Malformed records** (`malformedEvery=n` injects garbage every
  *    n-th record) exercise the downstream poison-pill drop in
  *    [[graft.streaming.PaymentStream.fromJson]] — a real feed's
  *    corrupt-record behavior, controllable in tests.
  *
  * A real connector replaces the record generator in
  * [[PayFeedPartitionReader]] with a shard fetch, and `rounds` with the
  * live tip — nothing else changes. Schema is a single `value STRING`
  * column (the socket/text-source convention), so the parse + FSM
  * stages downstream are byte-identical across file, socket, and
  * connector ingest.
  */
class PayFeedSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = PayFeedSource.ShortName
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PayFeedSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new PayFeedTable(PayFeedConfig.from(properties))
}

object PayFeedSource {
  val ShortName = "payfeed"
  val Schema: StructType = new StructType().add("value", StringType)
}

/** Connector knobs, parsed once from the reader options (case-
  * insensitive, as DSv2 delivers them). Bad values fail loudly at
  * planning time — a silently-defaulted typo ("shrads=64") would
  * otherwise just under-parallelize in production.
  */
private[graft] case class PayFeedConfig(shards: Int, recordsPerRound: Int,
    rounds: Long, malformedEvery: Int, lifecycle: Boolean = false) {
  require(shards > 0, s"payfeed: shards must be > 0, got $shards")
  require(recordsPerRound > 0,
    s"payfeed: recordsPerRound must be > 0, got $recordsPerRound")
  require(rounds >= 0, s"payfeed: rounds must be >= 0, got $rounds")
  require(malformedEvery >= 0,
    s"payfeed: malformedEvery must be >= 0 (0 = none), got $malformedEvery")
}

private[graft] object PayFeedConfig {
  def from(props: JMap[String, String]): PayFeedConfig = {
    val m = new CaseInsensitiveStringMap(props)
    PayFeedConfig(
      shards = m.getInt("shards", 2),
      recordsPerRound = m.getInt("recordsPerRound", 8),
      rounds = m.getLong("rounds", 1L),
      malformedEvery = m.getInt("malformedEvery", 0),
      lifecycle = m.getBoolean("lifecycle", false))
  }
}

private class PayFeedTable(cfg: PayFeedConfig) extends Table with SupportsRead {
  override def name(): String = s"${PayFeedSource.ShortName}(${cfg.shards} shards)"
  override def schema(): StructType = PayFeedSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = PayFeedSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PayFeedMicroBatchStream(cfg)
      }
    }
}

/** Offset = number of poll rounds fully served. JSON form is the bare
  * counter, so checkpoints are human-auditable.
  */
private[graft] case class PayFeedOffset(round: Long) extends Offset {
  override def json(): String = round.toString
}

private[graft] class PayFeedMicroBatchStream(cfg: PayFeedConfig)
    extends MicroBatchStream {
  override def initialOffset(): Offset = PayFeedOffset(0L)
  // The stub's "stream tip": all configured rounds are available. A
  // live connector returns the shard iterators' current sequence
  // numbers here; Spark then reads (committed, tip] as one micro-batch.
  override def latestOffset(): Offset = PayFeedOffset(cfg.rounds)
  override def deserializeOffset(json: String): Offset =
    PayFeedOffset(json.trim.toLong)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[PayFeedOffset].round,
      end.asInstanceOf[PayFeedOffset].round)
    // one partition per shard covering the round range — the
    // shard-parallel scale shape; record generation is pure in
    // (shard, round, index) so any replay of the same range is
    // bitwise identical
    Array.tabulate(cfg.shards)(shard => PayFeedPartition(shard, s, e, cfg))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PayFeedPartitionReader(p.asInstanceOf[PayFeedPartition])
    }
  override def commit(end: Offset): Unit = () // stub: nothing to trim
  override def stop(): Unit = ()
}

private[graft] case class PayFeedPartition(shard: Int, startRound: Long,
    endRound: Long, cfg: PayFeedConfig) extends InputPartition

/** Deterministic record generator for one shard over rounds
  * (startRound, endRound]. `seq` is globally unique and dense, so
  * specs can assert exact coverage; a real reader replaces [[record]]
  * with the shard fetch and keeps the iteration shape.
  */
private[graft] class PayFeedPartitionReader(p: PayFeedPartition)
    extends PartitionReader[InternalRow] {
  private val epochBase = 1704067200L // 2024-01-01T00:00:00Z
  private var round = p.startRound
  private var i = -1

  private[graft] def seq(round: Long, i: Int): Long =
    (round * p.cfg.shards + p.shard) * p.cfg.recordsPerRound + i

  private[graft] def record(round: Long, i: Int): String = {
    val s = seq(round, i)
    if (p.cfg.malformedEvery > 0 && s % p.cfg.malformedEvery == 0)
      s"{corrupt payfeed record $s" // injected poison pill
    else {
      val ts = Instant.ofEpochSecond(epochBase + s)
      // lifecycle mode: odd seqs carry the `processed` terminal of the
      // preceding even seq's create — each shard's consecutive seqs
      // interleave create/terminal, so the full reference loop
      // (create → poll → resolve) flows through one feed and the
      // payment-id universe is the even seqs. A corrupt create under
      // malformedEvery leaves its terminal an orphan — exactly the
      // delivery-skew case the FSM's orphan buffering absorbs.
      if (p.cfg.lifecycle && s % 2 == 1)
        s"""{"paymentId": ${s - 1}, "ts": "$ts", "kind": "processed"}"""
      else
        s"""{"paymentId": $s, "ts": "$ts", "kind": "create"}"""
    }
  }

  override def next(): Boolean = {
    i += 1
    if (i >= p.cfg.recordsPerRound) { i = 0; round += 1 }
    round < p.endRound
  }
  override def get(): InternalRow =
    InternalRow(UTF8String.fromString(record(round, i)))
  override def close(): Unit = ()
}
