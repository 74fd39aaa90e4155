package graftbench

import graft.core.DedupConfig
import graft.dedup.{BruteForceOracle, CandidatePairs, CheckpointedDedup, ConnectedComponents, DedupPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.PlanShim
import org.apache.spark.storage.StorageLevel
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in this JVM: set the program up on the
  * corpus that [[Generate]] wrote, time closed-loop pipeline runs (one at a
  * time) for the requested seconds, with `--trace 1` make two extra traced
  * runs (the first a warm-up) that time each layer's public function, check
  * a small draw against the brute-force oracle, and time resumes of a run
  * killed after `edges`.
  * Every run's assignment checksum must agree.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --input <parquet dir> --oracle <labels file>
  *
  * Prints `BENCH_SPANS <json>` (traced runs) and, last, `BENCH_RESULT <json>`. */
object Main {

  val cfg: DedupConfig = DedupConfig.default
  /** Clips in the brute-force oracle draw (O(n^2), single-threaded). */
  final val OracleClips = 1000
  /** Untimed full pipeline runs at the end of set-up, the first one cold. */
  final val WarmupRuns = 3
  /** Resumes of the killed run. The first is a warm-up (it is the first
    * run of the resume-only plans); `resume_s` is the median of the others. */
  final val ResumeRuns = 3
  /** Minimum timed reps, however long one rep takes. */
  final val MinReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, input: String, oracle: String)

  /** `--key value` pairs. */
  def options(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap

  def parse(args: Array[String]): Args = {
    val kv = options(args)
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("input"), req("oracle"))
  }

  /** Progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench +${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1fs] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Order-independent checksum of the assignment (clip -> representative):
    * the action that materializes a run's output. */
  def checksum(assign: DataFrame): Long =
    assign.select(sum(crc32(concat_ws(",", col("clip_id"), col("rep_clip_id")))))
      .collect()(0).getLong(0)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally all.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { src =>
      Files.copy(src, to.resolve(from.relativize(src).toString))
    } finally all.close()
  }

  def treeBytes(p: Path): Long = {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally all.close()
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  /** Fixed environment: local[cores], one shuffle partition per core, Spark
    * scratch inside the run's own work dir, loopback-only driver. The
    * generated-code cache holds every class the pipeline generates: at
    * Spark's default of 100 entries one run's classes evict each other, so
    * every repeated run would compile and JIT-warm ~50 classes anew. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Unpersist every RDD created since `before` and wait until it is gone. */
  def release(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }

  final case class Rep(wall: Double, checksum: Long, cpuSec: Double, peakMb: Double, gcSec: Double)

  final class Failure(msg: String) extends Exception(msg)

  def check(ok: Boolean, msg: => String): Unit = if (!ok) throw new Failure(msg)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val n = Workloads.byName(a.workload).clips
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    var attempted = 0
    var failed = 0
    def attempt(): Unit = attempted += 1
    val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
    log(s"workload=${a.workload} clips=$n seed=${a.seed} cores=$cores")

    var spark: SparkSession = null
    var listener: BenchListener = null

    /** One closed-loop pipeline run: input parquet to materialized assignments. */
    def timedRep(df: DataFrame): Rep = {
      attempt()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      System.gc()
      listener.reset()
      val gc0 = gcSeconds
      val t0 = System.nanoTime()
      val cs = checksum(DedupPipeline.run(df, cfg))
      val wall = (System.nanoTime() - t0) / 1e9
      PlanShim.waitListenerBus(spark.sparkContext)
      val rep = Rep(wall, cs, listener.total.cpuNs / 1e9, listener.peakStorageBytes / 1e6, gcSeconds - gc0)
      release(spark, before)
      rep
    }
    def logRep(what: String, r: Rep): Unit =
      log(f"$what: ${r.wall}%.3f s cpu=${r.cpuSec}%.2f s gc=${r.gcSec}%.2f s peak=${r.peakMb}%.1f MB")

    try {
      // ---- set-up, from JVM start to the first timed rep: session start,
      // opening the input, and the warm-up runs, the first of them cold ----
      spark = session(cores, work.toString)
      listener = new BenchListener
      spark.sparkContext.addSparkListener(listener)
      log("session started")
      val clips = spark.read.parquet(a.input)
      check(clips.count() == n, "input row count")
      log("input opened")
      val warm = (1 to WarmupRuns).map { i =>
        val r = timedRep(clips)
        logRep(s"warm-up $i", r)
        r
      }
      val setup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
      put("setup_s", setup, "s")
      log(f"set-up: $setup%.3f s from JVM start")

      // ---- timed window -------------------------------------------------
      val reps = mutable.ArrayBuffer.empty[Rep]
      val w0 = System.nanoTime()
      while (reps.length < MinReps || (System.nanoTime() - w0) / 1e9 < a.seconds) {
        reps += timedRep(clips)
        logRep(s"rep ${reps.length}", reps.last)
      }
      val cs = warm.head.checksum
      val all = warm ++ reps
      check(all.forall(_.checksum == cs),
        s"pipeline runs disagree on the checksum: ${all.map(_.checksum).distinct.mkString(",")}")
      val wallMed = median(reps.map(_.wall).toSeq)
      put("clips_per_s", n / wallMed, "1/s")
      put("task_cpu_s", median(reps.map(_.cpuSec).toSeq), "s")
      put("peak_cached_mb", median(reps.map(_.peakMb).toSeq), "MB")

      if (a.trace) {
        // the first traced run is the first run of the traced plans (each
        // layer materialized on its own) and only warms them up
        val tracer = Seq(mutable.LinkedHashMap.empty[String, (Double, String)], layers).map { into =>
          attempt()
          val (tracedCs, tr) = tracedRun(spark, listener, clips, cores, into)
          check(tracedCs == cs, s"traced run checksum $tracedCs != untraced $cs")
          log(f"traced run: ${tr.byName("run").seconds}%.3f s")
          tr
        }.last
        layers("trace.overhead_s") = (tracer.byName("run").seconds - wallMed, "s")
        println("BENCH_SPANS " + tracer.json)
      }

      // ---- untimed: the oracle check, then a run killed after `edges` ---
      oracleCheck(spark, a.workload, a.seed, Paths.get(a.oracle), () => attempt())
      val ckpt = work.resolve("ckpt")
      val killed = ckpt.resolve("killed")
      attempt()
      check(CheckpointedDedup.run(clips, killed.toString, cfg, stopAfter = Some("edges")).isEmpty,
        "stopAfter=edges still returned assignments")
      release(spark, Set.empty)

      // ---- resumes, each from its own copy of the committed snapshots ----
      var clusterOf: Array[Long] = null
      val resumes = (1 to ResumeRuns).map { i =>
        attempt()
        val dir = ckpt.resolve(s"resumed-$i")
        copyTree(killed, dir)
        System.gc()
        val r0 = System.nanoTime()
        val out = CheckpointedDedup.run(clips, dir.toString, cfg).get
        val resumedCs = checksum(out)
        val secs = (System.nanoTime() - r0) / 1e9
        log(f"resume $i: $secs%.3f s")
        check(resumedCs == cs, s"resumed checksum $resumedCs != in-memory $cs")
        clusterOf = byClipIndex(out.select(col("clip_id"), col("cluster")).collect())
        release(spark, Set.empty)
        secs
      }
      put("resume_s", median(resumes.tail), "s")
      val truth = Workloads.plan(a.workload, n, a.seed).clusterOf
      put("planted_recall", BruteForceOracle.pairRecall(truth, dense(clusterOf)), "ratio")

      if (a.trace) snapshotMetrics(ckpt.resolve(s"resumed-$ResumeRuns"))
        .foreach { case (k, v, u) => layers(k) = (v, u) }
      deleteTree(ckpt)
    } catch {
      case e: Throwable =>
        failed += 1
        attempted = math.max(attempted, 1)
        log(s"FAILED: $e")
        e.printStackTrace()
    } finally {
      if (spark != null) stop(spark)
    }
    val ms = (if (a.trace) layers else endToEnd).map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    println(s"""BENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms}}""")
    System.exit(if (failed == 0) 0 else 1)
  }

  /** Cluster label per clip index, from (clip_id, cluster) rows. */
  def byClipIndex(rows: Array[org.apache.spark.sql.Row]): Array[Long] = {
    val out = new Array[Long](rows.length)
    rows.foreach(r => out(r.getString(0).stripPrefix("clip-").toInt) = r.getLong(1))
    out
  }

  /** Labels renumbered 0, 1, 2, ... in order of first appearance. */
  def dense(labels: Array[Long]): Array[Int] = {
    val ids = labels.distinct.zipWithIndex.toMap
    labels.map(ids)
  }

  /** Pipeline vs the O(n^2) brute-force oracle on a small draw from the same
    * workload generator: recall >= 0.99, and no pair the oracle keeps apart
    * may be merged. [[Generate]] computed the oracle's labels, one per line. */
  def oracleCheck(spark: SparkSession, workload: String, seed: Long, oracle: Path,
                  attempt: () => Unit): Unit = {
    import spark.implicits._
    val rows = Workloads.transcripts(workload, OracleClips, seed)
    attempt()
    val out = DedupPipeline.run(rows.toSeq.toDF("clip_id", "transcript"), cfg)
    val got = dense(byClipIndex(out.select(col("clip_id"), col("cluster")).collect()))
    release(spark, Set.empty)
    val want = Files.readAllLines(oracle).asScala.map(_.toInt).toArray
    check(want.length == OracleClips, s"oracle labels: ${want.length} lines, not $OracleClips")
    val recall = BruteForceOracle.pairRecall(want, got)
    val precision = BruteForceOracle.pairRecall(got, want)
    log(f"oracle n=$OracleClips: recall=$recall%.4f precision=$precision%.4f")
    check(recall >= 0.99, f"oracle recall $recall%.4f < 0.99")
    check(precision == 1.0, f"oracle precision $precision%.4f < 1.0: the pipeline merged non-duplicates")
  }

  /** The five layer calls in `DedupPipeline.run`'s order and under its conf
    * scope, each in its own span and tagged for the listener. Candidates and
    * edges are materialized on their own so each layer's jobs are its own. */
  def tracedRun(spark: SparkSession, listener: BenchListener, clips: DataFrame, cores: Int,
                metrics: mutable.Map[String, (Double, String)]): (Long, Tracer) = {
    val sc = spark.sparkContext
    val tr = new Tracer
    def layer[T](name: String)(body: => T): T = tr.span(name) {
      sc.setLocalProperty(BenchListener.LayerKey, name)
      try body finally sc.setLocalProperty(BenchListener.LayerKey, null)
    }
    val before = sc.getPersistentRDDs.keySet.toSet
    System.gc()
    listener.reset()
    val gc0 = gcSeconds
    var pairs = 0L
    var overflow = 0L
    var edgeCount = 0L
    var local = false
    val cs = tr.span("run") {
      val key = "spark.sql.shuffle.partitions"
      val aqeKey = "spark.sql.adaptive.enabled"
      val bcKey = "spark.sql.autoBroadcastJoinThreshold"
      val saved = Seq(key, aqeKey, bcKey).map(k => k -> spark.conf.getOption(k))
      val nRows = clips.count()
      val p = math.max(2L, math.min(spark.conf.get(key).toLong, nRows / 2000L + 1L))
      spark.conf.set(key, (p * math.max(1, cfg.fatShuffleFactor)).toString)
      val cfgEff =
        if (cfg.broadcastLookups && nRows > cfg.broadcastLookupMaxRows) cfg.copy(broadcastLookups = false)
        else cfg
      if (cfgEff.broadcastLookups) spark.conf.set(aqeKey, "false")
      spark.conf.set(bcKey, "-1")
      // unpersisted as Datasets at the end: an RDD-level unpersist leaves the
      // plan in Spark's cache manager, where the next traced run's identical
      // plan would find it, skip its own persist and recompute on every use
      val cached = mutable.ArrayBuffer.empty[DataFrame]
      def persisted(df: DataFrame): DataFrame = {
        cached += df
        df.persist(StorageLevel.MEMORY_AND_DISK)
      }
      try {
        val f = layer("features") {
          val f = persisted(DedupPipeline.features(clips, cfgEff))
          f.count()
          f
        }
        val cands = layer("candidates") {
          val ov0 = CandidatePairs.overflowRuns(spark)
          val c = persisted(DedupPipeline.candidates(f, cfgEff))
          pairs = c.count()
          overflow = CandidatePairs.overflowRuns(spark) - ov0
          c
        }
        val edges = layer("verify") {
          val e = persisted(DedupPipeline.verifiedEdges(f, cands, cfgEff))
          edgeCount = e.count()
          e
        }
        spark.conf.set(key, p.toString)
        val labels = layer("cc") {
          local = edgeCount <= cfgEff.ccLocalMaxEdges
          if (local) ConnectedComponents.runLocal(edges) else ConnectedComponents.run(edges, maxIter = 50)
        }
        layer("assignments") {
          checksum(DedupPipeline.assignments(f, labels).localCheckpoint(true))
        }
      } finally {
        saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        cached.foreach(_.unpersist(blocking = true))
        release(spark, before)
      }
    }
    PlanShim.waitListenerBus(sc)
    val gc = gcSeconds - gc0
    def put(k: String, v: Double, u: String): Unit = metrics(k) = (v, u)
    def common(name: String): LayerStats = {
      val s = listener.layer(name)
      val wall = tr.byName(name).seconds
      put(s"$name.wall_s", wall, "s")
      put(s"$name.task_cpu_s", s.cpuNs / 1e9, "s")
      s
    }
    def parUse(name: String, s: LayerStats): Unit =
      put(s"$name.par_use", s.runMs / 1e3 / (tr.byName(name).seconds * cores), "ratio")

    val fs = common("features")
    parUse("features", fs)
    val cs2 = common("candidates")
    put("candidates.pairs", pairs, "count")
    put("candidates.shuffle_mb", cs2.shuffleWriteBytes / 1e6, "MB")
    put("candidates.task_skew", cs2.taskSkew, "ratio")
    put("candidates.overflow_runs", overflow, "count")
    parUse("candidates", cs2)
    val vs = common("verify")
    put("verify.edges", edgeCount, "count")
    put("verify.yield", if (pairs == 0) 0.0 else edgeCount.toDouble / pairs, "ratio")
    put("verify.task_skew", vs.taskSkew, "ratio")
    parUse("verify", vs)
    val ccs = common("cc")
    put("cc.jobs", ccs.jobs, "count")
    put("cc.stages", ccs.stages, "count")
    put("cc.shuffle_mb", ccs.shuffleWriteBytes / 1e6, "MB")
    put("cc.local", if (local) 1 else 0, "flag")
    common("assignments")
    val tot = listener.total
    put("scheduler.jobs", tot.jobs, "count")
    put("scheduler.stages", tot.stages, "count")
    put("scheduler.tasks", tot.tasks, "count")
    put("scheduler.unattributed_s", Tracer.selfSeconds(tr.spans, tr.byName("run").id), "s")
    put("jvm.gc_s", gc, "s")
    put("trace.total_s", tr.byName("run").seconds, "s")
    (cs, tr)
  }

  /** Per-stage commit times from the product's own `metrics.jsonl`, plus the
    * bytes the run committed. */
  def snapshotMetrics(dir: Path): Seq[(String, Double, String)] = {
    val lines = Files.readAllLines(dir.resolve("metrics.jsonl")).asScala.toSeq
    def field(l: String, k: String): String =
      s""""$k":"?([^",}]*)""".r.findFirstMatchIn(l).map(_.group(1)).getOrElse("")
    val rows = lines.map(l => (field(l, "stage"), field(l, "elapsed_ms").toDouble))
    def ms(stage: String): Double = rows.filter(_._1 == stage).map(_._2).sum
    val rounds = rows.filter(_._1.startsWith("labels"))
    Seq(
      ("snapshot.features_ms", ms("features"), "ms"),
      ("snapshot.edges_ms", ms("edges"), "ms"),
      ("snapshot.cc_round_ms", rounds.map(_._2).sum, "ms"),
      ("snapshot.assignments_ms", ms("assignments"), "ms"),
      ("snapshot.cc_rounds", rounds.length.toDouble, "count"),
      ("snapshot.bytes_written", treeBytes(dir).toDouble, "bytes"))
  }
}
