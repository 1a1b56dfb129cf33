package perfbench

import java.io.{BufferedInputStream, DataInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.io.Source

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

import graft.functions.KinesisShard
import graft.pipeline.{KinesisSink, Pipeline}
import graft.pipeline.KinesisSink.{KinesisRecord, PutRecordsClient, PutResult}

/** The S3→Kinesis workload: a closed-loop backlog drain through
  * `Pipeline.run`, checked record by record against what the generator
  * wrote.
  */
object Ingest {
  val Shards = 8

  /** What one pass delivered, and every way it was wrong. */
  final case class Delivered(records: Long, bytes: Long, perShard: Array[Long],
      krfFiles: Int, putRequests: Long, errors: Long, firstError: String)

  private val json = new ObjectMapper()

  private def krfFiles(streamDir: File): Seq[(Int, File)] =
    Option(streamDir.listFiles()).toSeq.flatten.filter(_.getName.startsWith("shard="))
      .flatMap { d =>
        val shard = d.getName.stripPrefix("shard=").toInt
        Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".krf")).map(shard -> _)
      }

  private def readKrf(f: File): Iterator[KinesisRecord] = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
    new Iterator[KinesisRecord] {
      private var nxt: KinesisRecord = advance()
      private def advance(): KinesisRecord =
        if (in.available() <= 0) { in.close(); null }
        else {
          val pk = new Array[Byte](in.readInt()); in.readFully(pk)
          val data = new Array[Byte](in.readInt()); in.readFully(data)
          KinesisRecord(new String(pk, UTF_8), data)
        }
      override def hasNext: Boolean = nxt != null
      override def next(): KinesisRecord = { val r = nxt; nxt = advance(); r }
    }
  }

  /** Every valid event delivered exactly once, to `shardFor(pk)`, with a
    * payload that round-trips the source fields. With `replay`, also
    * counts the PutRecords requests `KinesisSink.batches` cuts each
    * `.krf` run into.
    */
  def verify(streamDir: File, exp: Expected, replay: Boolean): Delivered = {
    val seen = new java.util.BitSet(exp.valid)
    val perShard = new Array[Long](Shards)
    var records, bytes, errors, requests = 0L
    var first = ""
    def bad(msg: => String): Unit = { errors += 1; if (first.isEmpty) first = msg }
    val files = krfFiles(streamDir)
    files.foreach { case (shard, f) =>
      readKrf(f).foreach { r =>
        records += 1
        bytes += r.data.length
        if (shard < Shards) perShard(shard) += 1
        try {
          val n = json.readTree(r.data)
          val id = n.path("event_id").asLong(-1L)
          if (id < 0 || id >= exp.valid) bad(s"unknown event_id $id")
          else if (seen.get(id.toInt)) bad(s"event $id delivered twice")
          else {
            seen.set(id.toInt)
            val i = id.toInt
            val ok = r.partitionKey == exp.userId(i).toString &&
              KinesisSink.shardFor(r.partitionKey, Shards) == shard &&
              n.path("user_id").asLong(-1L) == exp.userId(i) &&
              Instant.parse(n.path("ts").asText("")).toEpochMilli == exp.tsMillis(i) &&
              n.path("event_type").asText("") == EventGen.Types(exp.typeIdx(i)) &&
              math.round(n.path("value").asDouble(-1.0) * 100) == exp.valueCents(i) &&
              n.path("props").asText("").hashCode == exp.propsHash(i)
            if (!ok) bad(s"event $id: wrong shard/key/payload in ${f.getName}")
          }
        } catch {
          case e: Exception => bad(s"unreadable payload in ${f.getName}: $e")
        }
      }
      if (replay) requests += KinesisSink.batches(readKrf(f)).size
    }
    val missing = exp.valid - seen.cardinality()
    if (missing > 0) {
      errors += missing
      if (first.isEmpty) first = s"$missing valid events never delivered"
    }
    Delivered(records, bytes, perShard, files.size, requests, errors, first)
  }

  def quarantinedLines(dir: File): Long =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) quarantinedLines(f)
      else if (f.getName.startsWith("part-")) {
        val s = Source.fromFile(f, "UTF-8")
        try s.getLines().size.toLong finally s.close()
      } else 0L
    }.sum

  final case class Pass(wallS: Double, cpuS: Double, exp: Expected, delivered: Delivered,
      quarantined: Long) {
    def validRecords: Long = exp.valid
  }

  def writeBacklog(dir: File, seed: Long, files: Int, lines: Int): Expected = {
    dir.mkdirs()
    val exp = new Expected(files * lines)
    val gen = new EventGen(seed)
    (0 until files).foreach(i => gen.writeFile(exp, dir, f"part-$i%05d.jsonl", lines))
    exp
  }

  /** Drain every file in `bucket` through the foreachBatch pipeline. */
  def drain(spark: SparkSession, bucket: File, work: File, exp: Expected,
      replay: Boolean = false): Pass = {
    val (stream, quar, ckpt) = (new File(work, "stream"), new File(work, "quarantine"),
      new File(work, "ckpt"))
    val t0 = System.nanoTime()
    val c0 = Env.cpuNanos()
    val q = Pipeline.run(spark, bucket.getPath, stream.getPath, quar.getPath, ckpt.getPath,
      numShards = Shards, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 10)
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Env.cpuNanos() - c0) / 1e9
    q.exception.foreach(e => throw e)
    Pass(wall, cpu, exp, verify(stream, exp, replay), quarantinedLines(quar))
  }

  /** The traced pipeline's own per-trigger view, from the progress log. */
  def progressMetrics(log: ProgressLog, d: Delivered, quarantined: Long,
      recordsIn: Long): Map[String, Double] = {
    val trig = log.triggers
    def phase(k: String): Double = trig.map(_._2.getOrElse(k, 0L).toDouble).sum
    val n = trig.size.max(1).toDouble
    val mean = d.perShard.sum.toDouble / Shards
    Map(
      "pipeline.triggers" -> trig.size.toDouble,
      "pipeline.latest_offset_ms" -> phase("latestOffset") / n,
      "pipeline.get_batch_ms" -> phase("getBatch") / n,
      "pipeline.query_planning_ms" -> phase("queryPlanning") / n,
      "pipeline.wal_commit_ms" -> phase("walCommit") / n,
      "pipeline.commit_offsets_ms" -> phase("commitOffsets") / n,
      "pipeline.add_batch_ms" -> phase("addBatch") / n,
      "pipeline.trigger_ms.p50" -> Stats.pct(trig.map(_._2.getOrElse("triggerExecution", 0L).toDouble), 50),
      "pipeline.trigger_ms.p90" -> Stats.pct(trig.map(_._2.getOrElse("triggerExecution", 0L).toDouble), 90),
      "pipeline.records_in" -> recordsIn.toDouble,
      "pipeline.records_quarantined" -> quarantined.toDouble,
      "pipeline.records_delivered" -> d.records.toDouble,
      "pipeline.bytes_delivered" -> d.bytes.toDouble,
      "pipeline.krf_files" -> d.krfFiles.toDouble,
      "pipeline.put_requests" -> d.putRequests.toDouble,
      "pipeline.request_fill" -> d.records.toDouble / (d.putRequests.max(1) * KinesisSink.MaxRecordsPerRequest),
      "pipeline.shard_skew" -> (if (mean > 0) d.perShard.max / mean else 0.0))
  }

  /** Counts PutRecords calls and the time spent inside them. */
  final class CountingClient(inner: PutRecordsClient, calls: LongAccumulator,
      nanos: LongAccumulator) extends PutRecordsClient {
    override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
      val t0 = System.nanoTime()
      try inner.putRecords(shard, records)
      finally { calls.add(1); nanos.add(System.nanoTime() - t0) }
    }
  }

  private def timed[T](f: => T): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Batch replay of the pipeline over `bucket`, one stage deeper per
    * timed action, each forcing the columns its stage produces.
    */
  def stageReplay(spark: SparkSession, bucket: File, work: File): Map[String, Double] = {
    val path = bucket.getPath
    def src = spark.read.text(path)
      .select(col("value").as("raw"), from_json(col("value"), Pipeline.rawEventSchema).as("ev"))
    val read = timed(spark.read.text(path).agg(sum(length(col("value")))).collect())
    val decode = timed(Pipeline.decoded(src)
      .agg(count(col("ts")), sum(length(col("props"))), sum(col("value"))).collect())
    val quarantine = timed(Pipeline.quarantined(src).agg(sum(length(col("raw")))).collect())
    val key = timed(Pipeline.withPartitionKey(Pipeline.decoded(src))
      .agg(sum(length(col("data"))), count(col("partitionKey"))).collect())
    val calls = spark.sparkContext.longAccumulator("put_calls")
    val nanos = spark.sparkContext.longAccumulator("put_nanos")
    val out = new File(work, "stage-deliver").getPath
    val deliver = timed(KinesisSink.deliver(Pipeline.withPartitionKey(Pipeline.decoded(src)),
      Shards, (_, tag) => new CountingClient(new KinesisSink.DirectoryClient(out, tag), calls, nanos),
      fileTag = "replay"))
    val backfill = timed(Pipeline.backfill(spark, path, new File(work, "backfill").getPath, Shards))
    Map("pipeline.stage.read_s" -> read, "pipeline.stage.decode_s" -> decode,
      "pipeline.stage.quarantine_s" -> quarantine, "pipeline.stage.key_s" -> key,
      "pipeline.stage.deliver_s" -> deliver,
      "pipeline.stage.put_calls" -> calls.value.toDouble,
      "pipeline.stage.put_ms" -> nanos.value / 1e6,
      "pipeline.backfill_s" -> backfill)
  }

  /** Per-key routing cost, single-threaded over the workload's keys: the
    * codegen path (`KinesisShard.route`) and the reference
    * (`KinesisSink.shardFor`). They must agree on every key.
    */
  def routeTimings(keys: Array[String]): Map[String, Double] = {
    val utf = keys.map(UTF8String.fromString)
    def perKey(f: Int => Int): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var acc = 0L
      var i = 0
      while (i < keys.length) { acc += f(i); i += 1 }
      if (acc < 0) println(acc)
      (System.nanoTime() - t0).toDouble / keys.length
    })
    val mismatch = keys.indices.count(i => KinesisShard.route(utf(i), Shards) != KinesisSink.shardFor(keys(i), Shards))
    require(mismatch == 0, s"kinesis_shard and shardFor disagree on $mismatch keys")
    Map("functions.kinesis_shard_ns" -> perKey(i => KinesisShard.route(utf(i), Shards)),
      "functions.shard_for_ns" -> perKey(i => KinesisSink.shardFor(keys(i), Shards)))
  }
}
