package perfbench

import java.sql.Timestamp

import java.io.File

import graft.{Memo, Tables}
import graft.operators.CorpusPack
import graft.sources.{CorpusJob, ShardWriter}
import graft.streaming.{PaperTrading, StatefulPositions, StreamingBars, StreamingCorpusIngest}
import graft.streaming.StatefulPositions.SignalEvent
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** `stream`: a closed-loop micro-batch replay. Each round feeds one
  * fixed-size chunk to each lane and waits for it to commit: the tick feed
  * through `StreamingBars.bars`, `StatefulPositions.track` and
  * `PaperTrading.engineLoop`, and the document feed through
  * `StreamingCorpusIngest.admit` against the standing corpus. State stores
  * and per-trigger commits are exercised here; no batch memo is used.
  * The traced run also measures the sources layer before set-up:
  * `CorpusJob.run`, memo-cold and split at its stage boundaries.
  */
final class Stream(r: Run) {
  import r.{spark, trace}
  import spark.implicits._
  implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

  val TickChunk = 1000
  val DocChunk = 50
  /** Nominal seconds of one round: `--seconds` / this = rounds. */
  val RoundSeconds = 7.5

  /** One lane: its input stream, the running query and the rows fed. */
  final class Lane[T](val name: String, val rows: IndexedSeq[T], val chunk: Int,
                      val input: MemoryStream[T], val query: StreamingQuery) {
    var fed = 0
    def trigger(): Long = {
      val c = rows.slice(fed, fed + chunk)
      require(c.nonEmpty, s"$name feed exhausted after $fed rows")
      input.addData(c: _*)
      query.processAllAvailable()
      fed += c.length
      c.length.toLong
    }
    def fedRows: Seq[T] = rows.take(fed)
    /** Tick-lane triggers are the workload's primary calls. */
    def kind: String = if (name == "ingest") "ingest" else "trigger"
    def sink: DataFrame = spark.table(s"pb_$name")
  }

  private def lane[T: Encoder](name: String, rows: IndexedSeq[T], chunk: Int, mode: String)
                              (build: Dataset[T] => DataFrame): Lane[T] = {
    val input = MemoryStream[T]
    val q = build(input.toDS()).writeStream.format("memory").queryName(s"pb_$name")
      .outputMode(mode).option("checkpointLocation", s"${r.work}/checkpoints/$name").start()
    q.processAllAvailable()
    new Lane(name, rows, chunk, input, q)
  }

  def run(): Unit = {
    val dir = r.inputs
    if (trace.traced) {
      val corpus = s"${r.work}/corpus"
      r.call("corpus_job", "job", "trace", -1, "q_corpus_job_manifest",
        Inputs.Tables("documents"))({ corpusStages(dir, corpus); 0L })
      r.oracleCheck("q_corpus_job_manifest", s"$corpus/manifest")
      r.layers("corpus.bytes_written") = bytesUnder(new File(corpus)).toDouble
      Memo.invalidateAll()
    }
    val setup = new Stopwatch
    val standing = Tables.documents(spark, dir).select("doc_id", "lang", "text")

    // Replay buffers (harness work, outside set-up): the tick feed in
    // event-time order and the incoming documents, half near-edits of
    // generated documents and half token-reversed ones.
    val ticks = Tables.ticks(spark, dir).orderBy("ts", "event_id")
      .select(col("ts"), col("symbol"), col("price"), col("volume")).collect()
      .map(x => (new Timestamp(x.getLong(0) / 1000000L), x.getString(1), x.getDouble(2), x.getDouble(3)))
      .toIndexedSeq
    val base = 1704067200000L
    val docs = standing.orderBy("doc_id").select("doc_id", "text").collect()
      .toIndexedSeq.zipWithIndex.map { case (x, i) =>
        val (id, text) = (x.getLong(0), x.getString(1))
        (new Timestamp(base + i), id,
          if (id % 2 == 0) s"$text marker$id" else text.split(" ").reverse.mkString(" "))
      }
    val signals = ticks.zipWithIndex.map { case ((ts, sym, px, _), i) =>
      SignalEvent(sym, ts.getTime, px, i % 3 - 1) }
    val paper = ticks.zipWithIndex.map { case ((ts, sym, px, _), i) =>
      PaperTrading.Tick(sym, i.toLong, ts.getTime, px) }

    // Set-up: the standing-corpus index, every query started, and two
    // warm-up rounds (the first rounds still run JIT-cold and slower).
    val (cIdx, bIdx) = setup.time(trace.span("index", "setup") {
      val c = StreamingCorpusIngest.contentIndex(standing).cache()
      val b = StreamingCorpusIngest.bandIndex(standing).cache()
      c.count(); b.count()
      (c, b)
    })
    val (bars, positions, engine, ingest) = setup.time(trace.span("start", "setup")((
      lane("bars", ticks, TickChunk, "update")(ds =>
        StreamingBars.bars(ds.toDF("ts", "symbol", "price", "volume"))),
      lane("positions", signals, TickChunk, "append")(ds => StatefulPositions.track(ds).toDF()),
      lane("engine", paper, TickChunk, "append")(ds =>
        PaperTrading.engineLoop(ds, "acct-1", qty = 10.0).toDF()),
      lane("ingest", docs, DocChunk, "append")(ds =>
        StreamingCorpusIngest.admit(ds.toDF("ts", "doc_id", "text"), cIdx, bIdx, "10 minutes")))))
    val lanes = Seq(bars, positions, engine, ingest)
    setup.time(trace.span("warmup", "unit")(for (i <- 0 until 2; l <- lanes)
      r.call(l.name, l.kind, "warm", -1, l.name, l.chunk)(l.trigger())))
    r.setupMs("prime_ms") = setup.ms

    r.timedUnits("round", RoundSeconds) { i =>
      lanes.foreach(l => r.call(l.name, l.kind, "timed", i, l.name, l.chunk)(l.trigger()))
    }
    if (trace.traced) Layers.streamProgress(r, lanes.map(l => l.name -> l.query))
    lanes.foreach(_.query.stop())

    // Parity: each lane's output over the rows it was fed equals its batch
    // operator over the same rows.
    def parity(name: String, stream: => Long, batch: => Long): Unit = {
      val (s, b) = try (stream, batch) catch { case e: Throwable => (-1L, -2L) }
      r.checks += Map("name" -> name, "kind" -> "parity", "ok" -> (s == b && s >= 0),
        "stream_rows" -> s, "batch_rows" -> b)
    }
    parity("bars", bars.sink.select("symbol", "bucket_ms").distinct().count(),
      StreamingBars.bars(bars.fedRows.toDF("ts", "symbol", "price", "volume")).count())
    parity("positions", positions.sink.count(),
      StatefulPositions.track(positions.fedRows.toDS()).count())
    parity("engine", engine.sink.count(),
      PaperTrading.engineLoop(engine.fedRows.toDS(),
        "acct-1", qty = 10.0).count())
    val fedDocs = ingest.fedRows.map { case (_, id, text) => (id, text) }.toDF("doc_id", "text")
    val streamed = ingest.sink.select("doc_id").as[Long].collect().toSet
    val batched = StreamingCorpusIngest.admitBatch(fedDocs, standing).select("doc_id").as[Long]
      .collect().toSet
    parity("ingest", streamed.size.toLong, if (streamed == batched) batched.size.toLong else -3L)
    cIdx.unpersist(); bIdx.unpersist()
  }

  /** `CorpusJob.run` split at its stage boundaries: each
    * stage reads the memos the earlier ones filled, and the last two write
    * the shards and the manifest as `run` does.
    */
  private def corpusStages(dir: String, out: String): Unit = {
    trace.span("corpus.cleaned_docs", "stage")(CorpusJob.cleanedDocs(spark, dir).count())
    trace.span("corpus.mixed_layout", "stage")(CorpusJob.mixedLayout(spark, dir).count())
    trace.span("corpus.shard_write", "stage") {
      val kept = CorpusJob.mixedLayout(spark, dir).select("doc_id")
      ShardWriter.writeShards(Tables.documents(spark, dir).join(kept, "doc_id")
        .select("doc_id", "source", "lang", "text"), s"$out/shards", CorpusPack.NShards.toInt)
    }
    trace.span("corpus.manifest", "stage")(
      CorpusJob.manifest(spark, dir).write.mode("overwrite").parquet(s"$out/manifest"))
  }

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum else f.length()
}

/** Sums the time of the blocks it runs. */
final class Stopwatch {
  private var ns = 0L
  def time[A](f: => A): A = { val t0 = System.nanoTime(); try f finally ns += System.nanoTime() - t0 }
  def ms: Double = ns / 1e6
}
