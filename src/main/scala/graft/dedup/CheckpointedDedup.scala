package graft.dedup

import graft.core.DedupConfig
import graft.snapshot.SnapshotLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Snapshot-aligned, resumable execution of the dedup pipeline
  * (SURVEY.md §2.2 P10; north rule "resumes from Iceberg-snapshot-aligned
  * checkpoints with per-partition lineage and accumulator metrics").
  *
  * The run is [[DedupPipeline]]'s own stage sequence and conf scope; only
  * where each stage's output lives differs. Every stage commits its output
  * through [[SnapshotLog]] (immutable data files + versioned manifest +
  * atomic latest pointer). A killed run leaves either a fully committed
  * snapshot (resume skips the stage) or an uncommitted torn write (resume
  * recomputes the stage) — never a half-read state. Distributed CC label
  * tables commit once per convergence check into the same snapshot table,
  * so a kill mid-iteration resumes from the last completed check; the
  * converged labels (the driver-local union-find's, on a small edge graph)
  * are marked in their manifest stage name.
  *
  * Per-partition lineage = `part_rows` in each manifest; run metrics
  * (stage, rows, elapsed) are appended to `<workDir>/metrics.jsonl`.
  */
object CheckpointedDedup {

  private final val Converged = "labels_converged"

  /** Run (or resume) the pipeline. `stopAfter` aborts after the named stage
    * commits — the kill/restart test hook. Returns assignments unless
    * stopped early. */
  def run(clips: DataFrame, workDir: String,
          cfg: DedupConfig = DedupConfig.default,
          stopAfter: Option[String] = None): Option[DataFrame] = {
    // a fully completed workDir is a pure read: skip straight to the
    // committed assignments instead of re-materializing sym + labels
    val done = s"$workDir/assignments"
    if (SnapshotLog.exists(done)) Some(SnapshotLog.read(clips.sparkSession, done))
    else DedupPipeline.runStages(clips, cfg, new Snapshots(clips.sparkSession, workDir, stopAfter))
  }

  /** Stage outputs committed through [[SnapshotLog]] under `workDir`:
    * commit-or-read, one `metrics.jsonl` line per commit. */
  private final class Snapshots(spark: SparkSession, workDir: String,
                                stopAfter: Option[String]) extends DedupPipeline.StageStore {
    private var features: Option[DataFrame] = None

    private def metric(stage: String, rows: Long, t0: Long): Unit = {
      Files.createDirectories(Paths.get(workDir))
      val line =
        s"""{"stage":"$stage","rows":$rows,"elapsed_ms":${(System.nanoTime() - t0) / 1000000}}\n"""
      Files.writeString(Paths.get(workDir, "metrics.jsonl"), line,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    /** Compute-or-load one stage through the snapshot log; None when the
      * run stops after it. */
    private def stage(name: String, parents: String*)(compute: => DataFrame): Option[DataFrame] = {
      val dir = s"$workDir/$name"
      if (!SnapshotLog.exists(dir)) {
        val t0 = System.nanoTime()
        metric(name, SnapshotLog.commit(compute, dir, name, parents).rows, t0)
      }
      if (stopAfter.contains(name)) None else Some(SnapshotLog.read(spark, dir))
    }

    def features(f: => DataFrame, p: Int): Option[DataFrame] = {
      // features is a map-only projection, so its natural partitioning is
      // the input file layout (32 corpus files at n=1000); the clamp-sized
      // repartition keeps the committed table — and every downstream scan
      // of it — at p files instead of 32 near-empty ones
      features = stage("features", "input")(f.repartition(p)).map(_.persist())
      features
    }

    def edges(e: => DataFrame): Option[(DataFrame, Long)] =
      stage("edges", "features")(e).map(_ ->
        SnapshotLog.manifest(s"$workDir/edges").map(_.rows).getOrElse(0L))

    def labels(edges: DataFrame, edgeCount: Long, cfg: DedupConfig): Option[DataFrame] = {
      val dir = s"$workDir/labels"
      val latest = SnapshotLog.latestStage(dir)
      val labels =
        if (latest.exists(_.stage == Converged)) SnapshotLog.read(spark, dir)
        else {
          // resume from the last committed check: its labels carry the
          // round index they complete (one snapshot version per check)
          val from = latest.map(s => (SnapshotLog.read(spark, dir).localCheckpoint(true), s.version + 1))
          var t0 = System.nanoTime()
          ConnectedComponents.components(edges, edgeCount, cfg, from, (labels, round, converged) => {
            val name = if (converged) Converged else s"labels_round_$round"
            // the labels are already checkpointed and bit-identical to the
            // committed parquet (long columns round-trip exactly): the run
            // carries them forward instead of reading the commit back
            metric(name, SnapshotLog.commit(labels, dir, name, Seq("edges")).rows, t0)
            t0 = System.nanoTime()
            !stopAfter.contains(name)
          })
        }
      if (stopAfter.exists(_.startsWith("labels"))) None else Some(labels)
    }

    def assignments(a: => DataFrame): Option[DataFrame] =
      stage("assignments", "features", "labels")(a)

    // the returned assignments read from their committed snapshot, and a
    // leaked features entry would otherwise be served (via CacheManager
    // plan-matching) to the NEXT lifecycle over the same workDir path
    def release(): Unit = features.foreach(_.unpersist(blocking = false))
  }
}
