package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry

/** Declared batch queries (`SparkEntry.queries`) over the generator's
  * tables (`RUN/inputs/tables`), one per query family (one source file
  * each under `graft.queries`). One untimed warm pass runs the whole mix,
  * then a timed pass runs it again, one query after another; every query
  * of the timed pass must return the warm pass's row count and digest. */
object QueryMix {

  /** (family, query): the star join, the vocabulary (a `TokenOps.terms`
    * consumer), near-duplicate pairs, an approximate nearest-neighbour
    * search, media features, stratified sampling, a drift report, a
    * temporal CDC join and an AUC. */
  val Mix: Seq[(String, String)] = Seq(
    "relational" -> "q_j2_star_agg", "text" -> "q_a3_vocabulary",
    "dedup" -> "q_dedup_simhash_pairs", "similarity" -> "q_sim_lsh_ann",
    "multimodal" -> "q_mm_features", "sampling" -> "q_sample_strat",
    "curation" -> "q_report_drift", "cdc" -> "q_cdc_temporal_join", "mleval" -> "q_ml_auc")

  /** One query's result in one pass. */
  private final case class Result(rows: Long, digest: String, buildNs: Long, wallNs: Long,
      span: Span)

  /** Run one query and collect its result; a query that throws is
    * counted failed. */
  private def runOne(c: Ctx, tables: String, tag: String, q: String): Option[Result] = {
    val start = System.currentTimeMillis
    try {
      val ((rows, buildNs), wallNs) = Bench.timed {
        val (df, buildNs) = Bench.timed(SparkEntry.queries(q)(c.spark, tables))
        (df.collect().toSeq, buildNs)
      }
      val span = Span(s"$tag.$q", tag, start, System.currentTimeMillis)
      Some(Result(rows.size, Bench.digest(rows), buildNs, wallNs, span))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        None
    }
  }

  /** Run the mix once, one query after another. */
  private def pass(c: Ctx, tables: String, tag: String): Seq[Option[Result]] =
    Mix.map { case (_, q) => runOne(c, tables, tag, q) }

  /** The warm pass runs the queries concurrently, one per core: it is
    * set-up, and compiling the code paths of the mix is mostly single-
    * threaded driver work. */
  private def warmPass(c: Ctx, tables: String): Seq[Option[Result]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(c.cores)
    try Mix.map { case (_, q) => pool.submit(() => runOne(c, tables, "warm", q)) }.map(_.get)
    finally pool.shutdown()
  }

  /** The warm pass fixes each query's row count and digest; a later pass
    * must reproduce them, and no query may come back empty. */
  private def checks(c: Ctx, warm: Seq[Option[Result]], p: Seq[Option[Result]]): Unit =
    for (((_, q), (w, r)) <- Mix.zip(warm.zip(p))) {
      val ok = (w, r) match {
        case (Some(a), Some(b)) => b.rows > 0 && a.rows == b.rows && a.digest == b.digest
        case _ => false
      }
      c.check(s"$q.result", ok, s"warm ${w.map(x => (x.rows, x.digest))}, " +
        s"pass ${r.map(x => (x.rows, x.digest))}")
    }

  private def wallS(p: Seq[Option[Result]]): Double = p.flatten.map(_.wallNs).sum / 1e9

  def run(c: Ctx): Unit = {
    val t0 = System.nanoTime
    val tables = s"${c.inputs}/tables"
    val warm = warmPass(c, tables)
    for (((_, q), r) <- Mix.zip(warm))
      System.err.println(s"[perfbench] $q rows ${r.map(_.rows)} digest ${r.map(_.digest)} " +
        s"warm ms ${r.map(_.wallNs / 1e6)}")
    c.setupS += Bench.secs(t0)
    if (!c.trace) {
      val timed = pass(c, tables, "timed")
      checks(c, warm, timed)
      c.put("pass_s", wallS(timed))
      c.put("batch_ms", math.exp(Bench.mean(timed.flatten.map(r => math.log(r.wallNs / 1e6)))))
      return
    }
    // The traced pass, then the untraced one it is compared with (warm-up
    // favours the later pass, so the overhead reads high rather than low).
    val tr = new Tracer(c.spark)
    tr.attach()
    val traced = pass(c, tables, "traced")
    tr.detach()
    val plain = pass(c, tables, "plain")
    Seq(traced, plain).foreach(checks(c, warm, _))
    c.put("trace.overhead_pct", (wallS(traced) / wallS(plain) - 1) * 100)
    val done = traced.flatten
    done.foreach(r => tr.spans.add(r.span))
    tr.execLayers(done.map(_.span), c.cores).foreach { case (k, v) => c.put(k, v) }
    c.put("queries.build_ms", Bench.mean(done.map(_.buildNs / 1e6)))
    val families = mutable.LinkedHashMap.empty[String, Double]
    for (((family, _), r) <- Mix.zip(traced); res <- r)
      families(family) = families.getOrElse(family, 0.0) + res.wallNs / 1e9
    families.foreach { case (f, s) => c.put(s"queries.$f.wall_s", s) }
    tr.write(s"${c.dir}/trace-spans.jsonl")
  }
}
