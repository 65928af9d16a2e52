package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables, Warmup}

/** The benchmark's Spark process. Usage:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputDir> <workDir> <resultJson>
  *
  * One thread issues the workload's operations in a closed loop
  * (`local[N]`, N = available processors, shuffle partitions = N, UTC,
  * UI off) for as many rounds as `seconds` holds at the workload's
  * nominal round time, then runs the output checks outside the timed
  * region and writes one JSON result object. With trace = 1 a SparkListener and a StreamingQueryListener
  * are registered and every operation is split into build, plan and
  * exec spans. */
object Main {
  private def now(): Long = System.nanoTime()
  private def sec(t0: Long): Double = (now() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, in, work, out) = args
    val seed = seedS.toLong
    val budget = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = now()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sec(t0)
    val t1 = now()
    Warmup.run(spark)
    val warmupS = sec(t1)

    val run = new Runner(spark, traced)
    val res = mutable.LinkedHashMap.empty[String, Any]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val roundStarts = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (round, start ms, end ms)
    val hostProbes = mutable.ArrayBuffer.empty[Double]
    val storagePerRound = mutable.ArrayBuffer.empty[Double]
    val cacheBuild = mutable.ArrayBuffer.empty[Double]
    val cachedMb = mutable.ArrayBuffer.empty[Double]
    val probeRounds = mutable.ArrayBuffer.empty[Map[String, Double]]
    // round 0's key frames, written out for the output checks after the
    // rounds (re-running the plan, not the key body)
    val checkFrames = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.DataFrame]

    // storage memory the session still holds: collect first so the
    // ContextCleaner has released what nothing references any more
    def storageMb(): Double = {
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(300)
      spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (max, free) => (max - free).toDouble }.sum / 1048576.0
    }
    def cachedRddMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    // the range → shuffle-agg shape of graft.Bench's quick calibration
    def hostProbe(): Double = {
      val t = now()
      spark.range(0L, 10000000L, 1L, 32).selectExpr("id % 97 AS k", "id * 2654435761L AS v")
        .groupBy("k").sum("v").count()
      sec(t)
    }

    // the listeners exist only in the traced run
    val listener = new Listener
    val streamListener = new StreamListener
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(streamListener)
    }

    var snap: SnapshotIngest = null
    var setupExtra = 0.0
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    if (workload == "snapshot_ingest") {
      snap = new SnapshotIngest(spark, in, work, run, seed)
      val (cacheS, total) = snap.setup()
      setupExtra = total
      cacheBuild += cacheS; cachedMb += cachedRddMb()
      setupS += setupExtra
    } else require(workload == "llm_corpus_cold", s"unknown workload $workload")
    hostProbe() // compile the probe plan outside every reading

    val llmKeys = Keys.llmCorpusCold
    val queries = SparkEntry.queries
    def corpusDir(r: Int) = f"$in/corpus/r$r%03d"
    def probeDir(r: Int) = f"$in/probe/p$r%03d"
    def exists(d: String) = new java.io.File(d).isDirectory

    def gcSeconds(): Double = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3
    val gcPerRound = mutable.ArrayBuffer.empty[Double]

    // ---- measured rounds ----
    // The round count is fixed by the time budget and the workload's
    // nominal round time on a 4-core host, never by this run's own
    // timings, so every run of a workload does the same work.
    val nominalRoundS = Map("llm_corpus_cold" -> 20.0, "snapshot_ingest" -> 6.0)(workload)
    val plannedRounds = math.max(1, math.floor(budget / nominalRoundS).toInt)
    // snapshot_ingest's round 0 ran in set-up
    val firstRound = if (snap != null) 1 else 0
    var r = firstRound
    def more: Boolean = r < firstRound + plannedRounds && (workload match {
      case "llm_corpus_cold" => exists(corpusDir(r))
      case _ => snap.canRun(r)
    })
    while (more) {
      hostProbes += hostProbe()
      if (traced && workload == "llm_corpus_cold" && exists(probeDir(r)))
        probeRounds += Probes.corpus(spark, probeDir(r))
      val startMs = System.currentTimeMillis()
      val gc0 = gcSeconds()
      val rt = now()
      workload match {
        case "llm_corpus_cold" =>
          val dir = corpusDir(r)
          val c = run.eager(r, "cache", "corpus_cache") {
            Tables.t(spark, dir, "documents").count() + Tables.t(spark, dir, "embeddings").count()
          }
          cacheBuild += c.wall
          cachedMb += cachedRddMb()
          // frozen key order: only the corpus changes between rounds and seeds
          llmKeys.foreach { k =>
            run.query(r, "key", k) {
              val df = queries(k)(spark, dir)
              if (r == 0) checkFrames(k) = df
              df
            }
          }
        case _ =>
          snap.round(r)
      }
      val wall = sec(rt)
      gcPerRound += gcSeconds() - gc0
      roundWalls += wall
      roundStarts += ((r, startMs, System.currentTimeMillis()))
      if (traced) storagePerRound += storageMb()
      if (snap != null) snap.census()
      r += 1
    }
    hostProbes += hostProbe()
    val rounds = r - firstRound
    val storageEnd = storageMb()

    // ---- traced layer sweep: the layers the workload's rounds do not
    // drive, measured on small seeded inputs after the rounds ----
    if (traced) {
      if (workload == "llm_corpus_cold") {
        val sweepRun = new Runner(spark, traced = true)
        val s = new SnapshotIngest(spark, s"$in/sweep", s"$work/sweep", sweepRun, seed)
        s.setup()
        var i = 1
        while (s.canRun(i) && i < 5) { s.round(i); s.census(); i += 1 }
        val sweepOps = sweepRun.ops.toSeq.filter(_.round > 0)
        layer ++= snapshotLayer(s, sweepOps)
        layer ++= streamLayer(streamListener, sweepOps.filter(_.name == "txn_append"))
        if (sweepRun.ops.exists(!_.ok)) failures += "layer sweep: snapshot verb failed"
        s.checkFinal(); failures ++= s.failures.map("sweep " + _)
      } else {
        probeRounds += Probes.corpus(spark, probeDir(0))
      }
    }

    // ---- output checks, outside the timed region ----
    val checkDir = s"$work/check"
    val checkT0 = now()
    if (workload == "llm_corpus_cold") {
      val dir = corpusDir(0)
      checkFrames.foreach { case (k, df) =>
        try df.write.mode("overwrite").parquet(s"$checkDir/$k")
        catch { case e: Exception => failures += s"check $k: ${e.getMessage}" }
      }
      res("check_dir") = checkDir
      res("check_corpus") = dir
      res("oracle") = llmKeys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap
    } else {
      snap.checkFinal()
      failures ++= snap.failures
    }

    res("check_s") = sec(checkT0)

    // ---- results ----
    val ops = run.ops.toSeq.filter(_.round >= firstRound)
    val timedOps = ops.filter(o => o.kind == "key" || o.kind == "read" || o.kind == "write")
    res("workload") = workload
    res("rounds") = rounds
    res("setup_session_s") = sessionS
    res("setup_warmup_s") = warmupS
    res("setup_workload_s") = setupExtra
    // query latency: every llm key; snapshot_ingest's reads between commits
    val queryWalls = timedOps.filter(o => o.kind == "key" || o.kind == "read").map(_.wall)
    res("queries") = queryWalls.size
    res("e2e") = Map(
      "setup_s" -> setupS,
      "round_s" -> Stats.median(roundWalls.toSeq),
      "query_p50_s" -> Stats.median(queryWalls),
      "query_tail_s" -> Stats.tail(queryWalls),
      "storage_used_mb" -> storageEnd)
    res("host_probe_s") = hostProbes.toSeq
    res("storage_per_round_mb") = storagePerRound.toSeq
    res("ops") = timedOps.map(o => Map("kind" -> o.kind, "name" -> o.name, "round" -> o.round,
      "wall" -> o.wall, "ok" -> o.ok, "rows" -> o.rows))
    // a set-up (warm-up) operation that threw is a failure of the run
    res("failures") = failures.toSeq ++
      run.ops.filter(o => o.round < firstRound && !o.ok).map(o => s"set-up ${o.name} failed")
    res("op_errors") = run.ops.filter(!_.ok).map(o => s"${o.kind} ${o.name} round ${o.round}: ${o.err}")

    if (traced) {
      layer("setup.session_s") = sessionS
      layer("setup.warmup_s") = warmupS
      layer("tables.cache_build_s") = Stats.median(cacheBuild.toSeq)
      layer("tables.cached_mb") = Stats.median(cachedMb.toSeq)
      layer("storage.used_mb") = storageEnd
      layer("storage.cached_rdds") = spark.sparkContext.getPersistentRDDs.size.toDouble
      layer ++= Stats.medians(probeRounds.toSeq)
      if (snap != null) {
        layer ++= snapshotLayer(snap, ops)
        layer ++= streamLayer(streamListener, ops.filter(_.name == "txn_append"))
      }
      val (perRound, spans) = Spans.attribute(ops, listener, roundStarts.toSeq)
      layer ++= perRound
      layer("exec.gc_s") = Stats.median(gcPerRound.toSeq)
      layer("trace.round_s") = Stats.median(roundWalls.toSeq)
      res("spans") = spans
    }
    res("layer") = layer
    Json.write(out, res)
    spark.stop()
  }

  private def snapshotLayer(s: SnapshotIngest, ops: Seq[Op]): Map[String, Double] = {
    def med(name: String) = Stats.median(ops.filter(_.name == name).map(_.wall))
    val writes = ops.filter(_.kind == "write").map(_.wall)
    val reads = ops.filter(_.kind == "read").map(_.wall)
    val sql = ops.filter(_.name == "sql_read")
    val st = s.storage()
    Map(
      "snapshots.txn_append_s" -> med("txn_append"),
      "snapshots.merge_s" -> med("merge"),
      "snapshots.replace_s" -> med("replace"),
      "snapshots.compact_s" -> med("compact"),
      "snapshots.expire_s" -> med("expire"),
      "snapshots.read_range_s" -> med("read_range"),
      "snapshots.cdc_s" -> med("cdc"),
      "snapshots.commit_p50_s" -> Stats.median(writes),
      "snapshots.commit_tail_s" -> Stats.tail(writes),
      "snapshots.read_p50_s" -> Stats.median(reads),
      "snapshots.read_tail_s" -> Stats.tail(reads),
      "snapshots.manifest_entries" -> st("manifest_entries"),
      "snapshots.read_range_files" -> st("read_range_files"),
      "snapshots.bytes_written_mb" -> st("bytes_written_mb"),
      "snapshots.files_created" -> st("files_created"),
      "snapshots.replays_issued" -> s.replaysIssued.toDouble,
      "snapshots.replays_skipped" -> s.replaysSkipped.toDouble,
      "snapshots.write_amp" -> st("write_amp"),
      "snapshots.space_amp" -> st("space_amp"),
      "snapshot_source.sql_plan_s" -> Stats.median(sql.map(o => o.build + o.plan)),
      "snapshot_source.sql_read_s" -> Stats.median(sql.map(_.exec)),
      "snapshot_source.sql_files" -> st("sql_files"))
  }

  /** Streaming micro-batches that ran inside the given append ops. */
  private def streamLayer(l: StreamListener, appends: Seq[Op]): Map[String, Double] = {
    val inOps = l.synchronized(l.batches.toSeq).filter { case (ts, _) =>
      appends.exists(o => ts >= o.startMs - 5 && ts <= o.endMs + 5)
    }
    val batchS = inOps.map(_._2).sum
    Map(
      "streams.batches" -> inOps.size.toDouble,
      "streams.batch_s" -> batchS,
      "streams.overhead_s" -> (appends.map(_.wall).sum - batchS))
  }
}

object Keys {
  /** Every declared `llm_*` key that reads `documents` or `embeddings`;
    * `llm_sim_index_persist` commits snapshot tables while it is built
    * and belongs to the eager keys. Frozen: the list is data, not a
    * filter over today's registry. */
  val llmCorpusCold: Seq[String] = Seq(
    "llm_boilerplate", "llm_decontam", "llm_decontam_exact", "llm_dedup_clusters",
    "llm_dedup_embedding", "llm_dedup_exact_text", "llm_dedup_minhash",
    "llm_dedup_ngram_jaccard", "llm_dedup_simhash", "llm_embed_centroids",
    "llm_embed_quantize", "llm_fingerprint", "llm_lang_id", "llm_lang_quality_report",
    "llm_length_stats", "llm_mixture_sample", "llm_multimodal_assemble",
    "llm_multimodal_decode", "llm_multimodal_frames", "llm_multimodal_resize",
    "llm_ngrams", "llm_pii_scrub", "llm_pipeline_e2e", "llm_pmi", "llm_quality_score",
    "llm_repetition_filter", "llm_seq_pack", "llm_sim_search_ivf", "llm_sim_search_topk",
    "llm_sim_threshold_ivf", "llm_sim_threshold_pairs", "llm_text_clean_tokenize",
    "llm_winnow", "llm_wordcount_tfidf")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** The highest percentile with at least ten samples beyond it, capped
    * at p90; the median below 21 samples. */
  def tail(xs: Seq[Double]): Double = {
    val q = math.min(0.9, 1.0 - 10.0 / xs.size)
    if (q <= 0.5) median(xs)
    else xs.sorted.apply(math.ceil(q * xs.size).toInt - 1)
  }
  def medians(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
}

/** Minimal JSON writer for the result object. */
object Json {
  private def esc(s: String) = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), render(v).getBytes("UTF-8"))
}
