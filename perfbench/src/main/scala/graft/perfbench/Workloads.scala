package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, CacheScope, Engine, SparkEntry, TableProfile}
import graft.operators.{Dedup, TStep}
import graft.plans.{Enumerator, Lineage, Recommendation}
import graft.profiler.Profiler
import graft.score.Scagnostics
import graft.sources.Tables

/** Times operations and counts failures. Each operation is one span
  * (layer "op") under the open pass span; `layer` spans inside it are
  * the calls into the program's layers. */
final class Ops(val tracer: Tracer) {
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  var attempted = 0
  var failed = 0
  var framesReleased = 0L
  var passes = 0
  var cpuSeconds = 0.0

  def op[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(name, "op")(body)
      samples += name -> (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  def layer[A](name: String, layer: String)(body: => A): A = tracer.span(name, layer)(body)

  /** CacheScope quiesce point; counts the frames it unpersists. */
  def release(): Unit = { framesReleased += CacheScope.releaseAll() }

  def secondsOf(p: String => Boolean): Seq[Double] = samples.collect { case (n, s) if p(n) => s }.toSeq
}

/** A prepared workload: inputs generated and the session warm. */
trait Prepared {
  /** An untimed pass before the window, for a workload whose timed form
    * yields no outputs to check; (operation, problem) per wrong output. */
  def check(ops: Ops): Seq[(String, String)] = Nil
  /** The last step of set-up (counted in `setup_s`), for a workload
    * whose first pass in a JVM is much slower than the next ones. */
  def warmUp(): Unit = ()
  /** One timed pass of the workload's operations; keeps its outputs. */
  def pass(ops: Ops): Unit
  /** Checks the outputs every timed pass kept; runs after the windows. */
  def problems: Seq[(String, String)] = Nil
  /** The workload's end-to-end figures over the passes in `ops`. */
  def figures(ops: Ops): Seq[(String, Double, String)]
  /** The workload's own per-layer figures from a traced window. */
  def layerFigures(ops: Ops, d: TraceData): Seq[(String, Double, String)]
}

trait Workload {
  def name: String
  def setup(spark: SparkSession, seed: Long, work: String): Prepared
}

object Workload {
  val all: Seq[Workload] = Seq(Headline, VisSession, DedupScale)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
}

// ── headline ───────────────────────────────────────────────────────────

/** The `Bench.headline` queries over generated star-schema tables,
  * each materialised through the noop sink. The tables are the same
  * for every seed (so their result fingerprints are recorded once);
  * the seed sets the query order. */
object Headline extends Workload {
  val name = "headline"
  /** Row scale of the generated tables (sf 0.01 ≙ 60k lineitem rows). */
  val Sf = 0.01
  val DataSeed = 42L

  /** The operators/functions module doing each query's main work. */
  val module: Map[String, String] = {
    val byModule = Seq(
      "Relational" -> Seq("q1_pricing_summary", "q_select_numeric", "q_rowwise_sum", "q_sum_bar",
        "q_count_bar", "q_topk_per_group", "q_dedup_distinct", "q_join_enrich", "q_profile_stats",
        "q_events_window"),
      "TBasic" -> Seq("q_minmax_normalize", "q_histogram2d", "q_rank_first", "q_nominalize"),
      "CoreT" -> Seq("q_coret_pca", "q_coret_kmeans"),
      "TextFunctions" -> Seq("q_text_tokens", "q_text_quality", "q_text_fingerprint",
        "q_text_langid", "q_text_simhash"),
      "Dedup" -> Seq("q_dedup_exact_docs", "q_dedup_minhash_lsh", "q_dedup_simhash",
        "q_dedup_incremental", "q_dedup_spans", "q_dedup_minhash_incr", "q_corpus_curate"),
      "Similarity" -> Seq("q_embed_norm", "q_sim_bruteforce_topk", "q_embed_cluster",
        "q_dedup_semantic", "q_sim_pq_topk", "q_sim_ivfpq_topk", "q_kmeans_refine", "q_embed_int8"),
      "Multimodal" -> Seq("q_multimodal_meta"),
      "PipelineOps" -> Seq("q_text_repetition", "q_vocab_topk", "q_contamination", "q_text_chunks",
        "q_shard_pack", "q_strip_boilerplate", "q_text_rare_tokens", "q_sample_temperature",
        "q_sample_unimax", "q_split_assign", "q_domain_cap", "q_pack_sequences", "q_dedup_lines",
        "q_sample_priority", "q_decontaminate"),
      "AsofJoin" -> Seq("q_events_asof"),
      "RangeJoin" -> Seq("q_events_range_join"),
      "MediaCodecs" -> Seq("q_image_histogram", "q_audio_decode", "q_video_frames", "q_image_dhash"),
      "QualityModel" -> Seq("q_quality_model"),
      "BpeTokenizer" -> Seq("q_bpe_tokenize"),
      "LmScore" -> Seq("q_lm_score", "q_lm_buckets"),
      "Dsir" -> Seq("q_dsir_weights"),
      "Bm25" -> Seq("q_bm25_topk"),
      "Rank" -> Seq("q_profile_quantiles"),
      "CurationRules" -> Seq("q_gopher_quality", "q_c4_clean"),
      "Layout" -> Seq("q_zorder_key"),
      "SketchProfile" -> Seq("q_profile_sketch"))
    byModule.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap
  }

  def queries: Seq[String] = Bench.headline.filter(SparkEntry.queries.contains)

  def setup(spark: SparkSession, seed: Long, work: String): Prepared = {
    val dir = s"$work/tables"
    Gen.writeTables(spark, dir, Sf, DataSeed)
    val order = new scala.util.Random(seed).shuffle(queries)
    new Prepared {
      def pass(ops: Ops): Unit = order.foreach { q =>
        spark.catalog.clearCache()
        ops.op(q) {
          try {
            val df = ops.layer(s"$q.build", "headline.build")(SparkEntry.queries(q)(spark, dir))
            ops.layer(s"$q.exec", "headline.exec")(
              df.write.format("noop").mode("overwrite").save())
          } finally ops.release()
        }
      }

      override def check(ops: Ops): Seq[(String, String)] = {
        val expected = Expected.headline
        order.flatMap { q =>
          val got = ops.op(q) {
            try Fingerprint.of(SparkEntry.queries(q)(spark, dir)) finally ops.release()
          }
          (got, expected.get(q)) match {
            case (None, _) => Some(q -> "failed")
            case (Some(fp), Some(exp)) if fp == exp => None
            case (Some(fp), exp) => Some(q -> s"fingerprint $fp, expected ${exp.getOrElse("none")}")
          }
        }
      }

      /** Per-query medians over the passes: one sample per query. */
      def figures(ops: Ops): Seq[(String, Double, String)] = {
        val per = ops.samples.groupBy(_._1).values.map(v => Workload.median(v.map(_._2).toSeq)).toSeq
        Seq(("headline.total_s", per.sum, "s"),
          ("headline.query_p50_s", Stats.quantile(per, 0.5), "s"),
          ("headline.query_p85_s", Stats.tail(per, 0.85), "s"))
      }

      def layerFigures(ops: Ops, d: TraceData): Seq[(String, Double, String)] = {
        val n = math.max(ops.passes, 1).toDouble
        def wall(layer: String) = d.spans.filter(_.layer == layer).map(_.interval.length).sum / 1e9 / n
        val perModule = module.values.toSeq.distinct.sorted.flatMap { m =>
          val ss = d.spans.filter(s => s.layer == "op" && module.get(s.name).contains(m))
          Seq((s"operators.$m.s", ss.map(_.interval.length).sum / 1e9 / n, "s"),
            (s"operators.$m.jobs", ss.map(s => d.jobsUnder(s.id).size).sum / n, "count"))
        }
        Seq(("headline.build_s", wall("headline.build"), "s"),
          ("headline.exec_s", wall("headline.exec"), "s")) ++ perModule
      }
    }
  }

  /** Fingerprints every query's result over the tables in `dir`, and
    * writes each result plus its DuckDB oracle SQL under `dump` for
    * `oracle_check.py`. */
  def record(spark: SparkSession, dir: String, dump: String): Map[String, String] =
    queries.map { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        df.write.mode("overwrite").parquet(s"$dump/$q")
        q -> Fingerprint.of(spark.read.parquet(s"$dump/$q"))
      } finally CacheScope.releaseAll()
    }.toMap
}

// ── vis_session ────────────────────────────────────────────────────────

/** The paper's interactive flow on one seeded ie19-shaped sheet:
  * ingest+profile, search, replay the top recommendations as charts,
  * extend a lineage by one step. */
object VisSession extends Workload {
  val name = "vis_session"
  val Rows = 400
  /** exp/imp columns per cluster; see perfbench/README.md for the sizing. */
  val K = 2
  val ChartsReplayed = 3
  /** Core Ts fit on the driver whose replay cost swings with the sheet
    * (a umap replay took 1.0 s on one seed and 3.8 s on another); charts
    * using them are searched and scored but not replayed, so a pass does
    * the same work on every seed. */
  val VariableReplay = Set("tsne", "umap", "mds")

  def writeSheet(spark: SparkSession, seed: Long, path: String): Unit =
    Gen.sheet(spark, seed, Rows, K).coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** What one session produced: the recommendation list and the row
    * counts of each replayed chart and of the extended lineage. */
  final case class SessionOut(rec: Recommendation, chartRows: Seq[Int], addTRows: Int)

  /** One session; None if an operation failed. */
  private def session(spark: SparkSession, path: String, ops: Ops): Option[SessionOut] = {
    val engine = new Engine(spark)
    val ingested = ops.op("vis.ingest") {
      val df = ops.layer("Tables.csv", "sources")(Tables.csv(spark, path))
      ops.layer("Engine.profile", "profiler")(engine.profile(df))
    }
    val out = ingested.flatMap { case pair @ (pdf, prof) =>
      val rec = ops.op("vis.search") {
        ops.layer("Engine.search", "plans")(engine.search(pdf, profiled = Some(pair)))
      }
      rec.flatMap { r =>
        val replayed = r.visList.filterNot(_.channels.values.exists(d =>
          VariableReplay.contains(d.takeWhile(_ != ' '))))
        val charts = replayed.take(ChartsReplayed).flatMap { c =>
          ops.op("vis.chart") {
            val chans = channelsOf(c.channels, prof)
            ops.layer("Engine.buildChart", "operators.CoreT")(
              engine.buildChart(pdf, c.chartType, chans, profiled = Some(pair)).get.collect().length)
          }
        }
        val added = ops.op("vis.addT") {
          val step = TStep("sum", inCols = Seq("exp0", "imp0"))
          ops.layer("Engine.addTransform", "plans.lineage") {
            engine.addTransform(pdf, "[]", step, profiled = Some(pair))._1.collect().length
          }
        }
        added.map(SessionOut(r, charts, _))
      }
    }
    ops.release()
    out
  }

  /** channel → (lineage JSON, core T), recovered from a recommendation's
    * "coreT | tpath fingerprint" descriptions through the enumerator. */
  def channelsOf(channels: Map[String, String], prof: TableProfile): Map[String, (String, String)] =
    channels.map { case (ch, desc) =>
      val Array(coreT, fp) = desc.split(" \\| ", 2)
      val steps = Enumerator.enumerate(prof, coreT).find(_.fingerprint == fp)
        .getOrElse(throw new IllegalStateException(s"no tpath $fp for $coreT")).steps
      ch -> (Lineage.toJson(steps), coreT)
    }

  def signatureList(r: Recommendation): Seq[String] =
    r.visList.map(c => s"${c.chartType}|${c.signature}|${Fingerprint.num(c.score)}")

  def setup(spark: SparkSession, seed: Long, work: String): Prepared = {
    val path = s"$work/sheet.csv"
    writeSheet(spark, seed, path)
    new Prepared {
      /** The first search in a JVM runs ~40% slower than the next ones.
        * A search restricted to one core T, on a sheet of another seed,
        * takes most of that at half a session's cost. */
      override def warmUp(): Unit = {
        val warm = s"$work/warm.csv"
        writeSheet(spark, seed + 1000003L, warm)
        val engine = new Engine(spark)
        val pair = engine.profile(Tables.csv(spark, warm))
        engine.search(pair._1, tlist = Some(Set("pca")), profiled = Some(pair))
        CacheScope.releaseAll()
      }

      val outs = mutable.ArrayBuffer.empty[SessionOut]
      def last: Option[Recommendation] = outs.lastOption.map(_.rec)

      def pass(ops: Ops): Unit = session(spark, path, ops).foreach(outs += _)

      override def problems: Seq[(String, String)] = {
        val bad = mutable.ArrayBuffer.empty[(String, String)]
        outs.foreach { o =>
          val got = signatureList(o.rec)
          if (o.rec.visList.isEmpty) bad += "vis.search" -> "no recommendations"
          if (o.rec.visList.exists(c => c.score.isNaN || c.score < 0))
            bad += "vis.search" -> "a score outside [0, inf)"
          if (got != signatureList(outs.head.rec))
            bad += "vis.search" -> "passes on the same sheet returned different lists"
          Expected.vis.get(seed).foreach { exp =>
            if (exp != got) bad += "vis.search" ->
              s"list differs from the recorded one for seed $seed (${got.size} vs ${exp.size} charts)"
          }
          if (o.chartRows.exists(_ == 0)) bad += "vis.chart" -> "a replayed chart has no rows"
          if (o.addTRows != Rows) bad += "vis.addT" -> s"${o.addTRows} rows, expected $Rows"
        }
        bad.toSeq
      }

      def figures(ops: Ops): Seq[(String, Double, String)] = {
        def med(n: String) = Workload.median(ops.secondsOf(_ == n))
        val perPass = ops.samples.map(_._2).sum / math.max(ops.passes, 1)
        Seq(("vis.ingest_s", med("vis.ingest"), "s"), ("vis.search_s", med("vis.search"), "s"),
          ("vis.chart_s", med("vis.chart"), "s"), ("vis.session_s", perPass, "s"))
      }

      def layerFigures(ops: Ops, d: TraceData): Seq[(String, Double, String)] = {
        val n = math.max(ops.passes, 1).toDouble
        def spans(layer: String) = d.spans.filter(_.layer == layer)
        def wall(layer: String) = spans(layer).map(_.interval.length).sum / 1e9 / n
        def jobs(layer: String) = spans(layer).map(s => d.jobsUnder(s.id).size).sum / n
        val profJobs = spans("profiler").flatMap(s => d.jobsUnder(s.id))
        val searchJobs = jobs("plans")
        val charts = last.map(_.visList.size).getOrElse(0).toDouble
        // benchmark-timed layer calls, made once after the window
        val prof = Profiler.profile(Tables.csv(spark, path))._2
        val t0 = System.nanoTime()
        val tpaths = (Enumerator.numTl ++ Enumerator.catTl).map(t =>
          Enumerator.dedupe(Enumerator.enumerate(prof, t)).size).sum
        val enumS = (System.nanoTime() - t0) / 1e9
        val scatters = last.toSeq.flatMap(_.visList).filter(_.chartType.endsWith("scatter"))
          .map(c => c.data.flatMap { row =>
            val xy = c.columns("xy").map(row.get)
            xy match {
              case Seq(Some(x: Number), Some(y: Number)) => Some((x.doubleValue, y.doubleValue))
              case _ => None
            }
          }.toArray)
        val t1 = System.nanoTime()
        scatters.foreach { pts =>
          val g = new Scagnostics.Graph(pts)
          Seq(g.outlying, g.skewed, g.striated, g.stringy, g.straight, g.clumpy, g.monotonic)
        }
        val scoreS = (System.nanoTime() - t1) / 1e9
        Seq(("profiler.profile_s", wall("profiler"), "s"), ("profiler.jobs", jobs("profiler"), "count"),
          ("profiler.input_passes", d.stagesOf(profJobs).map(_.inputRows).sum / n / Rows, "ratio"),
          ("plans.enumerate_s", enumS, "s"), ("plans.tpaths", tpaths.toDouble, "count"),
          ("plans.search_jobs", searchJobs, "count"),
          ("plans.search_driver_s", spans("plans").map(s => d.driverGapNs(s.id)).sum / 1e9 / n, "s"),
          ("plans.charts", charts, "count"),
          ("plans.charts_per_job", if (searchJobs > 0) charts / searchJobs else 0.0, "ratio"),
          ("plans.lineage_s", wall("plans.lineage"), "s"),
          ("operators.CoreT.chart_s", wall("operators.CoreT"), "s"),
          ("operators.CoreT.chart_jobs", jobs("operators.CoreT"), "count"),
          ("score.scagnostics_s", scoreS, "s"), ("score.points", scatters.map(_.length).sum.toDouble, "count"))
      }
    }
  }

  def record(spark: SparkSession, seed: Long, work: String): Seq[String] = {
    val path = s"$work/sheet.csv"
    writeSheet(spark, seed, path)
    session(spark, path, new Ops(new Tracer)).map(o => signatureList(o.rec)).getOrElse(Nil)
  }
}

// ── dedup_scale ────────────────────────────────────────────────────────

/** A planted-twin corpus above the pair-first LSH threshold, deduped as
  * a batch and as a held-out increment against the rest. */
object DedupScale extends Workload {
  val name = "dedup_scale"
  /** Smallest base size whose 90% split still clears the 50k-doc
    * pair-first LSH threshold, so batch and increment both take it. */
  val BaseDocs = 56000L
  val TwinRate = 0.02
  val CopyRate = 0.01
  val IncrementShare = 0.1

  def setup(spark: SparkSession, seed: Long, work: String): Prepared = {
    val dir = s"$work/corpus"
    val c = Gen.corpus(spark, seed, BaseDocs, TwinRate, CopyRate)
    // one file; `inc` marks the held-out increment
    c.docs.withColumn("inc", Gen.unif(col("id"), seed * 5 + 7) < IncrementShare)
      .repartition(spark.sparkContext.defaultParallelism, col("id"))
      .write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val planted = c.planted.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val all = Tables.table(spark, dir, "docs")
    val incIds = all.where(col("inc")).select("id").collect().map(_.getLong(0)).toSet
    val truth = Truth(planted.toSeq, incIds)
    new Prepared {
      private def docs = all.drop("inc")
      private def base = all.where(!col("inc")).drop("inc")
      private def increment = all.where(col("inc")).drop("inc")
      val outs = mutable.ArrayBuffer.empty[Outputs]

      def pass(ops: Ops): Unit = outs += runOps(docs, base, increment, ops)

      override def problems: Seq[(String, String)] = outs.toSeq.flatMap(truth.verify)

      def figures(ops: Ops): Seq[(String, Double, String)] = {
        def med(p: String => Boolean) = Workload.median(ops.secondsOf(p))
        val batchOps = Seq("dedup.exact", "dedup.minhash", "dedup.simhash")
        val batch = batchOps.map(n => med(_ == n)).sum
        val incr = Seq("dedup.incremental", "dedup.minhash_incr").map(n => med(_ == n)).sum
        Seq(("dedup.batch_s", batch, "s"), ("dedup.incr_s", incr, "s"),
          ("dedup.docs_per_s", truth.docs / batch, "1/s"))
      }

      def layerFigures(ops: Ops, d: TraceData): Seq[(String, Double, String)] = {
        def med(n: String) = Workload.median(ops.secondsOf(_ == n))
        val (pairs, precision, recall) =
          outs.lastOption.flatMap(_.near).map(n => truth.pairStats(n._1)).getOrElse((0, 0.0, 0.0))
        Seq(("operators.Dedup.exact_s", med("dedup.exact"), "s"),
          ("operators.Dedup.minhash_s", med("dedup.minhash"), "s"),
          ("operators.Dedup.simhash_s", med("dedup.simhash"), "s"),
          ("operators.Dedup.incremental_s", med("dedup.incremental") + med("dedup.minhash_incr"), "s"),
          ("operators.Dedup.candidate_pairs", pairs.toDouble, "count"),
          ("operators.Dedup.pair_precision", precision, "ratio"),
          ("operators.Dedup.recall", recall, "ratio"))
      }
    }
  }

  /** The five operations, each ending in a collect of the ids or pairs
    * it produced (the outputs the checks need, a few MB at most). */
  def runOps(docs: DataFrame, base: DataFrame, increment: DataFrame, ops: Ops): Outputs = {
    def ids(df: DataFrame, c: String): Set[Long] = df.select(c).collect().map(_.getLong(0)).toSet
    def pairs(df: DataFrame, a: String, b: String): Set[(Long, Long)] =
      df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run[A](name: String)(body: => A): Option[A] =
      ops.op(name)(try ops.layer(name, "operators.Dedup")(body) finally ops.release())
    val exact = run("dedup.exact")(ids(Dedup.exactDedup(docs, "id", "text"), "id"))
    val near = run("dedup.minhash") {
      // persisted so that collecting the pairs for the checks does not
      // compute them a second time inside nearDedup
      val p = Dedup.minhashCandidatePairs(Dedup.minhashSignatures(docs, "id", "text")).persist()
      try (pairs(p, "id_a", "id_b"), ids(Dedup.nearDedup(docs, p, "id"), "id"))
      finally p.unpersist()
    }
    val sim = run("dedup.simhash")(pairs(Dedup.simhashPairs(docs, "id", "text"), "id_a", "id_b"))
    val fresh = run("dedup.incremental")(ids(Dedup.incrementalDedup(base, increment, "id", "text"), "id"))
    val incPairs = run("dedup.minhash_incr")(pairs(Dedup.minhashIncrementalPairs(
      Dedup.minhashSignatures(base, "id", "text"), Dedup.minhashSignatures(increment, "id", "text")),
      "inc_id", "corpus_id"))
    Outputs(exact, near, sim, fresh, incPairs)
  }

  final case class Outputs(exact: Option[Set[Long]], near: Option[(Set[(Long, Long)], Set[Long])],
                           sim: Option[Set[(Long, Long)]], fresh: Option[Set[Long]],
                           incPairs: Option[Set[(Long, Long)]])

  /** Planted ground truth: (orig, dup, kind) rows and the increment's ids. */
  final case class Truth(planted: Seq[(Long, Long, String)], incIds: Set[Long]) {
    val docs: Long = BaseDocs + planted.size
    val dups: Set[Long] = planted.map(_._2).toSet
    val copies: Set[(Long, Long)] = planted.collect { case (o, d, "copy") => (o, d) }.toSet
    /** Every unordered pair inside a planted group (orig, its twin, its copy). */
    val related: Set[(Long, Long)] = planted.groupBy(_._1).toSeq.flatMap { case (o, ds) =>
      (o +: ds.map(_._2)).combinations(2).map { case Seq(a, b) => (a min b, a max b) }
    }.toSet
    val allIds: Set[Long] = (0L until BaseDocs).toSet ++ dups

    def norm(p: (Long, Long)): (Long, Long) = (p._1 min p._2, p._1 max p._2)

    /** (candidate pairs, precision, recall) of batch MinHash pairs
      * against the planted groups. */
    def pairStats(ps: Set[(Long, Long)]): (Int, Double, Double) = {
      val np = ps.map(norm)
      val hit = (np & related).size.toDouble
      (np.size, if (np.isEmpty) 0.0 else hit / np.size, hit / related.size)
    }

    def verify(o: Outputs): Seq[(String, String)] = {
      val bad = mutable.ArrayBuffer.empty[(String, String)]
      def expect(name: String, ok: Boolean, what: => String): Unit =
        if (!ok) bad += name -> what
      o.exact.foreach { kept =>
        expect("dedup.exact", kept == allIds -- copies.map(_._2),
          s"${kept.size} survivors, expected ${allIds.size - copies.size}")
      }
      o.near.foreach { case (ps, kept) =>
        val (_, precision, recall) = pairStats(ps)
        val removed = allIds -- kept
        expect("dedup.minhash", precision == 1.0, s"pair precision $precision")
        expect("dedup.minhash", recall >= 0.7, s"pair recall $recall")
        expect("dedup.minhash", removed.subsetOf(dups), "an un-planted document was removed")
        expect("dedup.minhash", copies.map(_._2).subsetOf(removed), "an exact copy survived")
      }
      o.sim.foreach { ps =>
        val np = ps.map(norm)
        expect("dedup.simhash", np.subsetOf(related), "a pair outside the planted groups")
        expect("dedup.simhash", copies.subsetOf(np), "an exact-copy pair was missed")
      }
      o.fresh.foreach { kept =>
        // increment docs whose exact text is already in the base corpus
        val copyOf = copies.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toMap
        val expected = incIds.filterNot(i => copyOf.get(i).exists(j => !incIds.contains(j)))
        expect("dedup.incremental", kept == expected,
          s"${kept.size} fresh docs, expected ${expected.size}")
      }
      o.incPairs.foreach { ps =>
        val np = ps.map(norm)
        val crossing = related.filter { case (a, b) => incIds.contains(a) != incIds.contains(b) }
        expect("dedup.minhash_incr", np.subsetOf(related), "a pair outside the planted groups")
        expect("dedup.minhash_incr",
          crossing.isEmpty || (np & crossing).size.toDouble / crossing.size >= 0.7,
          s"recall ${(np & crossing).size} of ${crossing.size}")
      }
      bad.toSeq
    }
  }
}
