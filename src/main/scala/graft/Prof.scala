package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Profiler main: one session recipe (graft.Bench's query-section conf),
  * one JOB/STAGE listener on stderr, three modes.
  *
  *  - `graft.Prof <query> [sfDir] [cores] [reps]` — one SparkEntry query
  *    over the same `cores`-way staged sf tables and 4m scan bins Bench
  *    times, after Bench's session warm-up; prints `TOTAL rep N` lines.
  *  - `graft.Prof ann.lsh|ann.ivf|ann.both [n] [reps]` — Bench's ANN block
  *    in isolation (n planted vectors, Bench's LSH/IVF geometry); prints
  *    `LSH rep N` / `IVF rep N` lines. Cores from `SPARK_GRAFT_CPUS`.
  *  - `graft.Prof plans <outDir> <tag> [q1,q2,...]` — formatted explain of
  *    each named query (all by default) over the unstaged
  *    `SPARK_GRAFT_SF_DIR` tables into `<outDir>/<query>_<tag>.txt`.
  *    Builders with eager side effects (p04's checkpoint lifecycle,
  *    s01/s02's streaming drain, q16's sketch literal) pay them once here
  *    and still dump the plan of the returned DataFrame.
  *
  * Mode bodies take the session; only [[main]] builds one. */
object Prof {

  val Usage: String =
    "usage: graft.Prof <query> [sfDir] [cores] [reps] | graft.Prof ann.lsh|ann.ivf|ann.both [n] [reps]" +
      " | graft.Prof plans <outDir> <tag> [q1,q2,...]"

  def main(args: Array[String]): Unit = {
    def envCores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val (cores, body): (Int, SparkSession => Unit) = args.headOption match {
      case Some("plans") =>
        val names = args.lift(3).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
        (envCores, plans(_, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
          args.lift(1).getOrElse("plans/r06"), args.lift(2).getOrElse("before"), names))
      case Some(target @ ("ann.lsh" | "ann.ivf" | "ann.both")) =>
        (envCores, ann(_, target.stripPrefix("ann."),
          args.lift(1).fold(1000000L)(_.toLong), args.lift(2).fold(1)(_.toInt)))
      case Some(name) if SparkEntry.queries.contains(name) =>
        val cores = args.lift(2).fold(32)(_.toInt)
        (cores, query(_, name, args.lift(1).getOrElse("/root/testdata/sf0.1"), cores,
          args.lift(3).fold(1)(_.toInt)))
      case other =>
        throw new IllegalArgumentException(
          other.fold("no target")(t => s"unknown target '$t'") + "\n" + Usage)
    }
    val spark = session(cores)
    spark.sparkContext.addSparkListener(new StageLines)
    try body(spark) finally spark.stop()
  }

  /** graft.Bench's query-section session conf (Bench.scala is frozen, so the
    * recipe is restated here once; see Bench.session for why each value). */
  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-prof")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.autoBroadcastJoinThreshold", "256m")
      .config("spark.broadcast.compress", "false")
      .config("spark.broadcast.blockSize", "64m")
      .config("spark.storage.memoryMapThreshold", "2g")
      .config("spark.locality.wait", "0")
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.io.compression.lz4.blockSize", "512k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** JOB wall and per-STAGE task metrics on stderr; stdout keeps the mode's
    * result lines. */
  private final class StageLines extends SparkListener {
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      System.err.println(f"JOB ${e.jobId}%4d ${(e.time - Option(jobStart.remove(e.jobId)).getOrElse(e.time)) / 1e3}%7.2fs")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      System.err.println(f"STAGE ${e.stageInfo.stageId}%4d tasks=${e.stageInfo.numTasks}%4d " +
        f"cpu=${m.executorCpuTime / 1e9}%7.2f run=${m.executorRunTime / 1e3}%8.2f " +
        f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1fM sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1fM " +
        f"spill=${m.diskBytesSpilled / 1e6}%5.1fM " +
        e.stageInfo.name.take(70))
    }
  }

  /** One SparkEntry query, Bench-shaped: 4m scan bins over the staged
    * tables, Bench's session warm-up, then `reps` timed noop writes. */
  def query(spark: SparkSession, name: String, sfDir: String, cores: Int, reps: Int): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    val stagedDir = stageSfTables(spark, sfDir, cores)
    // session warm-up (codegen, parquet footers, first shuffle), like Bench
    try spark.read.parquet(s"$stagedDir/lineitem.parquet")
      .groupBy(col("l_returnflag")).count()
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }
    try { corpus.CorpusGen.clipsCached(spark, 1000).count(); corpus.CorpusGen.clipsCached(spark, 500).count() }
    catch { case _: Throwable => () }
    for (r <- 1 to reps) {
      System.gc(); Thread.sleep(150)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, stagedDir).write.mode("overwrite").format("noop").save()
      println(f"TOTAL rep $r ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
  }

  /** Bench's ANN block: `lane` is lsh, ivf or both. */
  def ann(spark: SparkSession, lane: String, n: Long, reps: Int): Unit = {
    val vecs = corpus.EmbedGen.vectorsCached(spark, n).persist(StorageLevel.MEMORY_AND_DISK)
    vecs.count()
    for (r <- 1 to reps) {
      if (lane == "lsh" || lane == "both") {
        val t0 = System.nanoTime()
        val l = graft.ann.Ann.lshTopK(vecs, 3, planesPerTable = 16, tables = 8)
          .select(col("vec_id"), col("neighbor_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val rows = l.count()
        println(f"LSH rep $r ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
        l.unpersist(blocking = true)
      }
      if (lane == "ivf" || lane == "both") {
        val sampleStep = math.max(1L, n / 1000L)
        val queries = vecs.where(pmod(col("vec_id"), lit(sampleStep)) === 0)
        val t0 = System.nanoTime()
        val i = graft.ann.Ann.ivfTopK(queries, vecs, 3, nlist = 1024, nprobe = 32)
          .select(col("vec_id"), col("neighbor_id"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val rows = i.count()
        println(f"IVF rep $r ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
        i.unpersist(blocking = true)
      }
    }
  }

  /** Formatted explain of each named query over `sfDir` into
    * `<outDir>/<query>_<tag>.txt`; an unknown or failing query is reported
    * on stderr and skipped. */
  def plans(spark: SparkSession, sfDir: String, outDir: String, tag: String,
            names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val txt = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), txt)
            println(s"PLAN $name -> $outDir/${name}_$tag.txt")
          } catch {
            case e: Throwable => System.err.println(s"PLAN $name FAILED: $e")
          }
        case None => System.err.println(s"no such query: $name")
      }
    }
  }

  /** Row-group-split staged copy of the sf tables (same layout + cache key
    * as graft.Bench.stageSfTables, which is private to the frozen bench:
    * `parts` files per table, events.parquet copied verbatim for the
    * streaming queries). Both resolve to the same staged directory and never
    * re-stage each other's work. */
  private def stageSfTables(spark: SparkSession, sfDir: String, parts: Int): String = {
    val src = new java.io.File(sfDir)
    val sig = Option(src.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
    val tag = java.lang.Long.toHexString(
      graft.core.Murmur3.hashString(src.getCanonicalPath + "|" + sig, 21L))
    val out = s"/tmp/graft_sf_staged_${tag}_$parts"
    val done = new java.io.File(s"$out/_STAGED")
    if (!done.exists()) {
      new java.io.File(out).mkdirs()
      val files = Option(new java.io.File(sfDir).listFiles()).getOrElse(Array.empty)
      for (f <- files if f.getName.endsWith(".parquet")) {
        if (f.getName == "events.parquet" && f.isFile) {
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$out/${f.getName}"),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        } else {
          spark.read.parquet(f.getAbsolutePath).repartition(parts)
            .write.mode("overwrite").parquet(s"$out/${f.getName}")
        }
      }
      done.createNewFile()
    }
    out
  }
}
