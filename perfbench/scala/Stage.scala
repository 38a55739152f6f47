package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.ingest.CdcGenerator
import graft.operators.Conform
import graft.streaming.{CdcPipeline, PipelineConfig}

/** The engine-side halves of input staging (the seeded half is
  * perfbench/stage.py). */
object Stage {
  def rmrf(p: Path): Unit = if (Files.exists(p)) graft.table.Fs.deleteRecursively(p)

  /** CdcGenerator's stream over the corpus: seed-free, written once per
    * checkout for stage.py to replicate. */
  def corpus(spark: SparkSession, dataDir: String, out: Path): Unit = {
    rmrf(out)
    CdcGenerator.events(spark, dataDir).coalesce(1).write.parquet(out.toString)
  }

  /** trickle_mor's pre-loaded table: the seed-free `base_events` (the
    * directory named in the stage's `base` file) applied once through a
    * COW pipeline — built once per checkout, forked per cycle. */
  def ensureBase(spark: SparkSession, stage: Path, buckets: Int): Path = {
    val base = java.nio.file.Paths.get(new String(Files.readAllBytes(stage.resolve("base")), "UTF-8").trim)
    val root = base.resolve(s"table-k$buckets")
    if (Files.exists(root.resolve("ready"))) return root.resolve("table")
    rmrf(root)
    val pipe = new CdcPipeline(spark, PipelineConfig(
      tableRoot = root.resolve("table").toString,
      changeLogDir = root.resolve("none").toString,
      checkpointDir = root.resolve("checkpoint").toString,
      errorDir = root.resolve("errors").toString,
      lineageDir = root.resolve("lineage").toString,
      numBuckets = buckets))
    pipe.applyBatch(
      spark.read.schema(Conform.EventSchema).parquet(base.resolve("base_events").toString), 0L)
    Files.write(root.resolve("ready"), Array.emptyByteArray)
    root.resolve("table")
  }
}
