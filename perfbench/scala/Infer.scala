package graft.perfbench

import scala.collection.mutable

import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.TrainMain
import graft.ml.{LexiconSentiment, NlpPipeline, SentimentScorer}
import graft.ops.{TextOps, TimeOps}
import graft.sink.{JsonLinesSink, ParquetSink, Sink}
import graft.stream.StreamEngine

/** The reference inference path, wired like `StreamMain.run`: file source
  * of JSON lines (one file per trigger) → decode → `TrainMain.prepare` →
  * `NlpPipeline.inferBatch` → parquet primary with JSON-lines fallback,
  * checkpointed, drained with `Trigger.AvailableNow`. The model is trained
  * once in set-up; the same model then serves two drains: 10,000 records
  * per trigger (executor CPU dominates) and 50 records per trigger (the
  * reference's `maxOffsetsPerTrigger`; per-batch fixed cost dominates). */
object Infer {

  /** What one drain produced. */
  final case class Drain(name: String, out: String, fallback: String,
      generated: Long, ids: Seq[String], wallS: Double,
      progress: Seq[StreamingQueryProgress], fallbackBatches: Int)

  /** Per-batch records of the wrappers around the engine's arguments. */
  final class Recorder {
    val buildNs = mutable.ArrayBuffer.empty[Long]
    val execNs = mutable.ArrayBuffer.empty[Long]
    val rowsOut = mutable.ArrayBuffer.empty[Long]
    val writeNs = mutable.ArrayBuffer.empty[Long]
    val files = mutable.ArrayBuffer.empty[Long]
    val bytes = mutable.ArrayBuffer.empty[Long]
    @volatile var builtAt = 0L
  }

  /** Counts and times the writes of the sink it wraps, and what they add
    * to the sink's directory. */
  final class RecordingSink(inner: Sink, dir: String, rec: Recorder) extends Sink {
    def write(df: DataFrame): Unit = {
      val (b0, f0) = Bench.du(dir)
      val (_, ns) = Bench.timed(inner.write(df))
      val (b1, f1) = Bench.du(dir)
      rec.synchronized { rec.writeNs += ns; rec.files += f1 - f0; rec.bytes += b1 - b0 }
    }
  }

  /** Counts the batches diverted to the fallback. */
  final class CountingSink(inner: Sink) extends Sink {
    @volatile var batches = 0
    def write(df: DataFrame): Unit = { batches += 1; inner.write(df) }
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val modelDir = s"${c.dir}/model"
    val tr = new Tracer(spark)
    if (c.trace) tr.attach()
    val (_, trainNs) = Bench.timed(TrainMain.run(spark, s"${c.inputs}/corpus.json", modelDir))
    if (c.trace) tr.detach()
    // Served like StreamMain.run: the model is loaded back from its save.
    val ((model, labels), loadNs) = Bench.timed {
      val m = NlpPipeline.load(modelDir)
      (m, NlpPipeline.topicLabels(spark, m))
    }
    c.setupS += (trainNs + loadNs) / 1e9
    c.put("train_s", trainNs / 1e9)
    val vocab = model.stages.collectFirst { case m: CountVectorizerModel => m.vocabulary.length }
    c.check("train.vocabulary_full", vocab.contains(NlpPipeline.VocabSize), s"vocabulary $vocab")

    val transform: DataFrame => DataFrame =
      b => NlpPipeline.inferBatch(TrainMain.prepare(b), model, labels)
    if (c.trace) return traced(c, tr, transform, model, labels)
    // The bulk drain runs first: its first trigger warms the kernels on
    // volume, so the 50-record drain that follows runs warm.
    val bulk = drain(c, "bulk", "", transform, (_, _) => (), None)
    val env = drain(c, "envelope", "", transform, (_, _) => (), None)
    Seq(env, bulk).foreach(check(c, _, model, labels))
    // The median of the 50-record triggers after the first two, which
    // still carry the new query's warm-up.
    val envTriggers = Progress.triggers(env.progress, "envelope").drop(2)
    if (envTriggers.nonEmpty)
      c.put("batch_ms", Bench.median(envTriggers.map(_._2.wallMs)))
    // The pass is the whole streamed input after the warm-up trigger, both
    // drains. The 10,000-record triggers alone are single tasks: their time
    // follows the speed of one core, which on a shared host swings by half
    // within seconds, and three of them spread past the bound.
    val (warmS, bulkS) = bulkPass(bulk)
    c.setupS += warmS
    c.put("pass_s", bulkS + env.wallS)
  }

  /** The bulk drain's first trigger is its warm-up (set-up time); the pass
    * is the rest of the drain. */
  private def bulkPass(d: Drain): (Double, Double) = {
    val first = Progress.triggers(d.progress, d.name).headOption.map(_._2.wallMs / 1e3).getOrElse(0.0)
    (first, d.wallS - first)
  }

  /** Drain one generated stream through the engine; `tag` keeps a second
    * drain of the same input in its own output and checkpoint dirs. */
  def drain(c: Ctx, name: String, tag: String, transform: DataFrame => DataFrame,
      onBatch: (Long, Long) => Unit, rec: Option[Recorder]): Drain = {
    val base = s"${c.dir}/$name$tag"
    val truth = Bench.readJson(s"${c.inputs}/${name}_truth.json")
    val generated = truth.get("records").asLong
    val ids = (0 until truth.get("ids").size).map(truth.get("ids").get(_).asText)
    val files = new java.io.File(s"${c.inputs}/$name").list().count(_.endsWith(".json"))
    val parquet: Sink = new ParquetSink(s"$base/out")
    val fallback = new CountingSink(new JsonLinesSink(s"$base/fallback"))
    val engine = new StreamEngine(
      transform = transform,
      primary = rec.map(r => new RecordingSink(parquet, s"$base/out", r)).getOrElse(parquet),
      fallback = fallback,
      trigger = Trigger.AvailableNow(),
      checkpointLocation = Some(s"$base/checkpoint"),
      onBatch = onBatch)
    val source = c.spark.readStream.option("maxFilesPerTrigger", 1).text(s"${c.inputs}/$name")
    val t0 = System.nanoTime
    val q = engine.start(StreamEngine.decodeEnvelope(source, TrainMain.CorpusSchema),
      s"perfbench-$name${tag.replace('.', '-')}")
    try q.awaitTermination()
    catch { case e: Exception => System.err.println(s"[perfbench] $name drain failed: $e") }
    val wallS = Bench.secs(t0)
    val progress = q.recentProgress.toSeq
    val done = progress.count(_.numInputRows > 0)
    c.attempted += files
    c.failed += math.max(0, files - done) + fallback.batches
    Drain(name, s"$base/out", s"$base/fallback", generated, ids, wallS, progress, fallback.batches)
  }

  /** Every id lands exactly once in the primary sink and none in the
    * fallback; a sample of the sink rows equals a batch
    * `inferBatch(prepare(…))` over the same records. */
  def check(c: Ctx, d: Drain, model: PipelineModel, labels: DataFrame): Unit = {
    val spark = c.spark
    import spark.implicits._
    val got = spark.read.parquet(d.out)
    val sunk = got.select("id").as[String].collect().toSeq
    c.check(s"${d.name}.exactly_once", sunk.size == d.ids.size && sunk.toSet == d.ids.toSet,
      s"${sunk.size} rows, ${sunk.toSet.size} distinct ids, ${d.ids.size} expected")
    c.check(s"${d.name}.no_fallback", d.fallbackBatches == 0 && Bench.du(d.fallback)._2 == 0,
      s"${d.fallbackBatches} diverted batches")
    val sample = new scala.util.Random(c.seed).shuffle(d.ids).take(100)
    val raw = spark.read.text(s"${c.inputs}/${d.name}")
    val ref = NlpPipeline.inferBatch(TrainMain.prepare(
      StreamEngine.decodeEnvelope(raw, TrainMain.CorpusSchema)
        .where(col("id").isin(sample: _*))), model, labels)
    val a = Bench.digest(ref.collect().toSeq)
    val b = Bench.digest(got.where(col("id").isin(sample: _*)).collect().toSeq)
    c.check(s"${d.name}.sample_digest", a == b, s"batch $a, stream $b")
  }

  /** The traced run: both drains under the wrappers and listeners, the
    * per-estimator fit times of the training, the kernel probes, the
    * tracing overhead (the full chain over one batch frame with and
    * without the listeners), and the 1-core probe. */
  private def traced(c: Ctx, tr: Tracer, transform: DataFrame => DataFrame,
      model: PipelineModel, labels: DataFrame): Unit = {
    tr.fitLayers(FitSites).foreach { case (k, v) => c.put(s"ml.fit.${k}_ms", v) }
    tr.attach()
    def wrapped(rec: Recorder): DataFrame => DataFrame = b => {
      val (out, ns) = Bench.timed(transform(b))
      rec.buildNs += ns
      rec.builtAt = System.nanoTime
      out
    }
    def onBatch(rec: Recorder): (Long, Long) => Unit = (_, n) => {
      rec.execNs += System.nanoTime - rec.builtAt
      rec.rowsOut += n
    }
    val er, br = new Recorder
    val bulk = drain(c, "bulk", ".traced", wrapped(br), onBatch(br), Some(br))
    val env = drain(c, "envelope", ".traced", wrapped(er), onBatch(er), Some(er))
    Seq(env, bulk).foreach(check(c, _, model, labels))
    val envUnits = Progress.triggers(env.progress, "envelope")
    val bulkUnits = Progress.triggers(bulk.progress, "bulk")
    (envUnits ++ bulkUnits).foreach(u => tr.spans.add(u._2))
    c.put("records_per_s", (bulk.generated - bulk.generated / math.max(1, bulkUnits.size)) /
      bulkPass(bulk)._2)
    Progress.layers(envUnits.map(_._1), env.generated).foreach { case (k, v) => c.put(k, v) }
    tr.execLayers(envUnits.map(_._2), c.cores).foreach { case (k, v) => c.put(k, v) }
    if (bulkUnits.nonEmpty)
      tr.execLayers(Seq(Span("bulk", "", bulkUnits.map(_._2.startMs).min,
          bulkUnits.map(_._2.endMs).max)), c.cores, "bulk.")
        .filter(_._1.startsWith("bulk.exec.cpu")).foreach { case (k, v) => c.put(k, v) }
    def ms(xs: Seq[Long]) = Bench.mean(xs.map(_ / 1e6))
    c.put("ml.transform_build_ms", ms(er.buildNs.toSeq))
    c.put("ml.exec_ms", ms(er.execNs.toSeq))
    c.put("ml.rows_out_ratio", er.rowsOut.sum.toDouble / env.generated)
    c.put("sink.write_ms", ms(er.writeNs.toSeq))
    c.put("sink.fallback_batches", env.fallbackBatches.toDouble)
    c.put("sink.files_per_batch", Bench.mean(er.files.toSeq.map(_.toDouble)))
    c.put("sink.bytes_per_record", er.bytes.sum.toDouble / math.max(1L, er.rowsOut.sum))
    c.put("bulk.ml.transform_build_ms", ms(br.buildNs.toSeq))
    c.put("bulk.ml.exec_ms", ms(br.execNs.toSeq))
    c.put("bulk.sink.write_ms", ms(br.writeNs.toSeq))

    val probeInput = s"${c.inputs}/bulk/part-00000.json"
    val tracedFull = probeFull(c.spark, probeInput, model, labels)
    tr.detach()
    tr.write(s"${c.dir}/trace-spans.jsonl")
    val full = probeFull(c.spark, probeInput, model, labels)
    // The untraced probe runs second, so warm-up favours it and the
    // overhead reads high rather than low.
    c.put("trace.overhead_pct", (tracedFull / full - 1) * 100)
    kernels(c, probeInput, model, labels)
    // The 1-core probe needs a local[1] context, so it runs last.
    c.spark.stop()
    c.spark = Bench.session(1, c.dir)
    val m1 = NlpPipeline.load(s"${c.dir}/model")
    val one = probeFull(c.spark, probeInput, m1, NlpPipeline.topicLabels(c.spark, m1))
    c.put("exec.parallel_speedup", one / full)
  }

  /** Where each estimator's training jobs come from: the MLlib source file
    * in the stage's call site. The StringIndexers fit through SQL
    * aggregates whose stages carry no MLlib call site, so they have none. */
  val FitSites: Seq[(String, String)] = Seq(
    "Word2Vec" -> "Word2Vec.scala", "CountVectorizer" -> "CountVectorizer.scala",
    "LDA" -> "LDAOptimizer.scala", "RandomForest" -> "RandomForest.scala")

  /** The full chain over one batch file, as a noop write, in ms. */
  private def probeFull(spark: SparkSession, file: String, model: PipelineModel,
      labels: DataFrame): Double = {
    val decoded = StreamEngine.decodeEnvelope(spark.read.text(file), TrainMain.CorpusSchema)
    val df = NlpPipeline.inferBatch(TrainMain.prepare(decoded), model, labels)
    Bench.timed(Bench.noop(df))._2 / 1e6
  }

  /** Each layer of the chain timed alone over one 10,000-record batch
    * frame: a noop write of the layer applied to the previous layer's
    * output, which is held in memory. The prepare steps are those of
    * `TrainMain.prepare` (checked by schema); the score and label step is
    * `inferBatch` behind a model with no stages. */
  private def kernels(c: Ctx, file: String, model: PipelineModel, labels: DataFrame): Unit = {
    val spark = c.spark
    val prepare: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ingest.decode_ms" -> (StreamEngine.decodeEnvelope(_, TrainMain.CorpusSchema)),
      "ops.clean_ms" -> ((df: DataFrame) => df
        .withColumn("timestamp", TimeOps.epochToTimestamp(col("timestamp")))
        .na.drop(Seq("text"))
        .withColumn("text", TextOps.cleanText(col("text")))),
      "ops.time_features_ms" -> (TimeOps.withTimeFeatures(_, col("timestamp"))),
      "ml.sentiment_ms" -> ((new LexiconSentiment(): SentimentScorer).withSentiment(_, "text")))
    val raw = spark.read.text(file)
    val probe = prepare.map(_._2).reduce(_ andThen _)(raw)
    c.check("probe.prepare_chain", probe.schema == TrainMain.prepare(
        StreamEngine.decodeEnvelope(raw, TrainMain.CorpusSchema)).schema,
      "the probe's prepare steps no longer match TrainMain.prepare")
    val noStages = new Pipeline().setStages(Array.empty[PipelineStage]).fit(raw)
    val steps = prepare ++ model.stages.zipWithIndex.map { case (st, i) =>
      s"ml.stage.$i.${st.getClass.getSimpleName}_ms" -> ((df: DataFrame) => st.transform(df))
    } :+ ("ops.score_label_ms" -> ((df: DataFrame) => NlpPipeline.inferBatch(df, noStages, labels)))
    var prev = raw.cache()
    prev.count()
    for ((k, step) <- steps) {
      val df = step(prev)
      c.put(k, Bench.timed(Bench.noop(df))._2 / 1e6)
      val next = df.cache()
      next.count()
      prev.unpersist()
      prev = next
    }
    prev.unpersist()
  }
}
