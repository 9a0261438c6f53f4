package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.stream.{CdcIngest, DedupIngest, SketchIngest}

/** One seeded keyed changelog, 1,000 records per trigger, drained through
  * `DedupIngest`, then `SketchIngest`, then `CdcIngest`, one after
  * another. Every batch reads the maintainer's on-disk store and appends
  * to it, so per-batch cost grows with history. */
object IngestState {

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("user_id", LongType),
    StructField("day", LongType), StructField("text", StringType),
    StructField("score", DoubleType), StructField("key", LongType),
    StructField("ts", LongType), StructField("seq", LongType),
    StructField("op", StringType)))

  private val Maintainers = Seq("dedup", "sketch", "cdc")

  /** One drain per maintainer over the changelog, each into fresh stores
    * under `RUN/<tag>`: (name, wall seconds, triggers) per maintainer. */
  private final case class Pass(dir: String, dedup: DedupIngest, sketch: SketchIngest,
      cdc: CdcIngest, drains: Seq[(String, Double, Seq[(StreamingQueryProgress, Span)])]) {
    def wallS: Double = drains.map(_._2).sum
  }

  private def pass(c: Ctx, tag: String, input: String = "changelog"): Pass = {
    val d = s"${c.dir}/$tag"
    val dedup = new DedupIngest(c.spark, "id", "text", s"$d/dedup_corpus", s"$d/dedup_index")
    val sketch = new SketchIngest(c.spark, "day", "user_id", "score", s"$d/sketch_store")
    val cdc = new CdcIngest(c.spark, "key", "ts", "seq", "op", s"$d/cdc_snapshot")
    val files = new java.io.File(s"${c.inputs}/$input").list().count(_.endsWith(".json"))
    val drains = Seq("dedup" -> dedup.start _, "sketch" -> sketch.start _, "cdc" -> cdc.start _)
      .map { case (name, start) =>
        val source = c.spark.readStream.schema(Schema)
          .option("maxFilesPerTrigger", 1).json(s"${c.inputs}/$input")
        val t0 = System.nanoTime
        val q = start(source, s"perfbench-$name-$tag", Trigger.AvailableNow(),
          Some(s"$d/$name.checkpoint"))
        try q.awaitTermination()
        catch { case e: Exception => System.err.println(s"[perfbench] $name drain failed: $e") }
        val wallS = Bench.secs(t0)
        val ps = Progress.triggers(q.recentProgress.toSeq, name)
        c.attempted += files
        c.failed += math.max(0, files - ps.size)
        (name, wallS, ps)
      }
    Pass(d, dedup, sketch, cdc, drains)
  }

  def run(c: Ctx): Unit = {
    val truth = Bench.readJson(s"${c.inputs}/changelog_truth.json")
    val records = truth.get("records").asLong
    // Set-up: one 1,000-record changelog through all three maintainers, into
    // stores of its own, so the measured pass runs JIT-warm like a
    // long-lived maintainer.
    val warmup = pass(c, "warmup", "warmup")
    checks(c, Bench.readJson(s"${c.inputs}/warmup_truth.json"), warmup)
    c.setupS += warmup.wallS
    if (!c.trace) {
      val p = pass(c, "state")
      checks(c, truth, p)
      val medians = p.drains.collect { case (_, _, ps) if ps.nonEmpty =>
        Bench.median(ps.map(_._2.wallMs)) }
      if (medians.size == Maintainers.size) c.put("batch_ms", medians.sum)
      c.put("pass_s", p.wallS)
      return
    }
    // The traced pass, then the untraced one it is compared with (warm-up
    // favours the later pass, so the overhead reads high rather than low).
    val tr = new Tracer(c.spark)
    tr.attach()
    val t = pass(c, "state.traced")
    tr.detach()
    val p = pass(c, "state")
    Seq(t, p).foreach(checks(c, truth, _))
    c.put("records_per_s", records / p.wallS)
    c.put("trace.overhead_pct", (t.wallS / p.wallS - 1) * 100)
    val units = t.drains.flatMap(_._3)
    units.foreach(u => tr.spans.add(u._2))
    tr.execLayers(units.map(_._2), c.cores).foreach { case (k, v) => c.put(k, v) }
    Progress.layers(units.map(_._1), records * Maintainers.size)
      .foreach { case (k, v) => c.put(k, v) }
    for ((name, _, ps) <- t.drains if ps.nonEmpty) {
      val ms = ps.map(_._2.wallMs)
      val tenth = math.max(1, ms.size / 10)
      c.put(s"stream.$name.batch_ms", Bench.mean(ms))
      c.put(s"stream.$name.growth", Bench.mean(ms.takeRight(tenth)) / Bench.mean(ms.take(tenth)))
    }
    val novel = c.spark.read.parquet(s"${t.dir}/dedup_corpus").count()
    c.put("stream.dedup.novel_ratio", novel.toDouble / records)
    for (store <- Seq("dedup_index", "sketch_store", "cdc_snapshot")) {
      val (bytes, n) = Bench.du(s"${t.dir}/$store")
      c.put(s"state.${store}_bytes", bytes.toDouble)
      c.put(s"state.${store}_files", n.toDouble)
    }
    tr.write(s"${c.dir}/trace-spans.jsonl")
  }

  /** The dedup survivors, the live CDC keys with their winning seq, and
    * the sketch store's per-day row and distinct-user counts all equal
    * the generator's truth. */
  private def checks(c: Ctx, truth: com.fasterxml.jackson.databind.JsonNode, p: Pass): Unit = {
    val spark = c.spark
    import spark.implicits._
    val survivors = truth.get("dedup_survivors").elements().asScala.map(_.asLong).toSeq
    val corpus = spark.read.parquet(s"${p.dir}/dedup_corpus").select("id").as[Long].collect().toSeq
    c.check("dedup.survivors", corpus.sorted == survivors.sorted,
      s"${corpus.size} rows against ${survivors.size} expected")
    val live = truth.get("cdc_live").elements().asScala
      .map(n => (n.get(0).asLong, n.get(1).asLong)).toSeq.sorted
    val state = p.cdc.currentState().map(_.select(col("key"), col("seq")).as[(Long, Long)]
      .collect().toSeq.sorted).getOrElse(Nil)
    c.check("cdc.live_keys", state == live, s"${state.size} live keys against ${live.size}")
    val days = truth.get("sketch").elements().asScala
      .map(n => (n.get(0).asLong, n.get(1).asLong, n.get(2).asLong)).toSeq.sorted
    val summary = p.sketch.summary()
      .select(col("day"), col("n_rows"), col("distinct_ids").cast("long"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    c.check("sketch.counts", summary == days, s"$summary against $days")
  }
}
