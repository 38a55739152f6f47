package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Conform, Dedup, MergeOnRead, Validate}
import graft.streaming.{CdcPipeline, PipelineConfig}
import graft.table.{Fs, SnapshotTable}

/** Per-phase sums over the traced cycles. */
final class PhaseAcc {
  var wallMs, jobs, tasks, taskMs, schedWaitMs, shuffleBytes, spillBytes,
      inputBytes, outputBytes, failedTasks, recordsRead = 0L
  def add(j: JobRec): Unit = {
    jobs += 1; tasks += j.tasks; taskMs += j.taskMs; schedWaitMs += j.schedWaitMs
    shuffleBytes += j.shuffleBytes; spillBytes += j.spillBytes
    inputBytes += j.inputBytes; outputBytes += j.outputBytes
    failedTasks += j.failedTasks; recordsRead += j.recordsRead
  }
}

/** One workload: a cycle is a fresh (or freshly forked) table taken
  * through the workload's batches, its reads, and one scheduled
  * compaction. The client is closed-loop: each call starts when the
  * previous one returned. */
final class Workload(
    spark: SparkSession, workload: String, stage: Path, buckets: Int, root: Path,
    traced: Boolean) {
  import Workload._

  private val sc = spark.sparkContext
  private val batchDirs = Fs.listDir(stage.resolve("batches")).map(_.toString).sorted.toIndexedSeq
  private val batches = batchDirs.size
  private val filesPerBatch = Fs.listDir(Paths.get(batchDirs.head)).size
  private val lookupKeys: IndexedSeq[IndexedSeq[String]] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(stage.resolve("lookups.json").toFile).elements().asScala
      .map(_.elements().asScala.map(_.asText()).toIndexedSeq).toIndexedSeq
  }
  private lazy val baseTable = Stage.ensureBase(spark, stage, buckets).toString
  private var batchEvents: IndexedSeq[Long] = IndexedSeq.empty
  private var validInserts = 0L

  // end-to-end samples (recorded cycles only)
  private val commitMs  = mutable.ArrayBuffer.empty[Double]
  private val lookupMs  = mutable.ArrayBuffer.empty[Double]
  private val scanMs    = mutable.ArrayBuffer.empty[Double]
  private val compactMs = mutable.ArrayBuffer.empty[Double]
  private var events    = 0L
  private var failed    = 0L
  private val untracedCommitMs = mutable.ArrayBuffer.empty[Double]
  private val tracedCommitMs   = mutable.ArrayBuffer.empty[Double]
  private val lookupLog = mutable.ArrayBuffer.empty[String]
  private val scanLog   = mutable.ArrayBuffer.empty[String]
  private var last: Option[(CdcPipeline, Int)] = None

  // tracing
  private val runId   = f"$workload-${System.currentTimeMillis()}%x"
  private val clock   = new JobClock
  private val trigger = new TriggerClock
  spark.streams.addListener(trigger)
  private val spans = new Spans(runId)
  private val runSpan = spans.add(-1, "run", System.currentTimeMillis(), 0L)
  private val phases  = mutable.LinkedHashMap(Workload.Phases.map(_ -> new PhaseAcc): _*)
  private val layer   = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var tracedCommits, tracedCycles, tracedLookups, tracedScans, tracedCompacts = 0L
  private var lookupHits, scanRows = 0L

  private def read(d: String): DataFrame = spark.read.schema(Conform.EventSchema).parquet(d)

  /** Open every staged batch and count it (part of set-up). */
  def load(): Unit = {
    batchEvents = batchDirs.map(d => read(d).count())
    if (workload == "stream_neardup")
      validInserts = read(s"$stage/batches/batch-*").filter(col("op") === "I" &&
        col("doc_id").isNotNull && col("n_tok") === size(col("tokens"))).count()
  }

  private def batchIdOf(b: Int): Long = if (workload == "trickle_mor") b + 1L else b.toLong

  /** A pipeline on a fresh table — trickle_mor forks the staged base. */
  def prepareTable(c: Int): CdcPipeline = {
    val dir = root.resolve(s"c$c")
    Stage.rmrf(dir)
    Files.createDirectories(dir)
    if (workload == "trickle_mor")
      SnapshotTable.load(spark, baseTable)
        .shallowClone(dir.resolve("table").toString)
    new CdcPipeline(spark, PipelineConfig(
      tableRoot = dir.resolve("table").toString,
      changeLogDir = stage.resolve("batches").toString,
      checkpointDir = dir.resolve("checkpoint").toString,
      errorDir = dir.resolve("errors").toString,
      lineageDir = dir.resolve("lineage").toString,
      numBuckets = buckets,
      mode = if (workload == "trickle_mor") "mor" else "auto",
      compactThreshold = if (workload == "trickle_mor") TrickleCompactThreshold else 0.5,
      nearDupPolicy = if (workload == "stream_neardup") "flag" else "off"))
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** A traced commit: its span, commit id and interval. */
  private case class Commit(span: Int, commitId: String, start: Long, end: Long)

  /** Drop cycle `c`'s table (and its claim on the forked base). */
  def dropTable(c: Int): Unit = {
    val dir = root.resolve(s"c$c")
    if (workload == "trickle_mor")
      SnapshotTable.load(spark, baseTable).releaseClone(dir.resolve("table").toString)
    Stage.rmrf(dir)
  }

  def cycle(c: Int, record: Boolean, withTrace: Boolean): Unit = {
    last.foreach { case (_, prev) => dropTable(prev) }
    val p = prepareTable(c)
    val dir = root.resolve(s"c$c")
    last = Some(p -> c)
    if (withTrace) sc.addSparkListener(clock)
    val gc0 = Host.gcMs()
    val cycleSpan = if (withTrace) spans.add(runSpan, "cycle", System.currentTimeMillis(), 0L) else -1
    val commits = mutable.ArrayBuffer.empty[Commit]
    var peakDeltaFiles = 0
    def commitDone(commitId: String, start: Long, ms: Double, n: Long): Unit = {
      if (record) {
        commitMs += ms; events += n
        (if (withTrace) tracedCommitMs else untracedCommitMs) += ms
      }
      if (withTrace) {
        commits += Commit(spans.add(cycleSpan, "batch", start, start + math.round(ms)),
          commitId, start, start + math.round(ms))
        peakDeltaFiles = math.max(peakDeltaFiles, p.table.current.get.deltaFiles.size)
      }
    }
    var trigOverhead = 0.0
    if (workload == "stream_neardup") {
      trigger.take(0)
      p.runAvailableNow(Some(filesPerBatch))
      val tr = trigger.take(batches)
      require(tr.size == batches, s"expected ${batches} triggers, saw ${tr.size}")
      tr.foreach { t =>
        commitDone(p.commitIdFor(t.batchId), t.startMs, t.triggerMs.toDouble, batchEvents(t.batchId.toInt))
        trigOverhead += t.triggerMs - t.addBatchMs
      }
    } else {
      (0 until batches).foreach { b =>
        val df = read(batchDirs(b))
        val start = System.currentTimeMillis()
        val (ok, ms) = timed(tryOp("commit")(p.applyBatch(df, batchIdOf(b))))
        if (ok.isEmpty && record) failed += 1
        commitDone(p.commitIdFor(batchIdOf(b)), start, ms, batchEvents(b))
        if (workload == "trickle_mor") reads(p, c, b, lookupKeys(b), record, cycleSpan)
      }
    }
    if (workload != "trickle_mor")
      reads(p, c, batches - 1, lookupKeys.flatten, record, cycleSpan, scans = ScansAfterCycle)

    // table shape before the scheduled compaction
    val cur = p.table.current.get
    val bytesBefore = manifestBytes(p.table)
    if (withTrace) {
      layer("table.versions") += p.table.versions.size
      layer("table.delta_files") += peakDeltaFiles
      layer("table.manifest_load_ms") += median((0 until 3).map(_ =>
        timed(SnapshotTable.load(spark, p.table.root).current)._2))
      layer("table.bytes_written_per_event") +=
        dirBytes(dir.resolve("table")).toDouble / batchEvents.sum
      layer("streaming.trigger_overhead_ms") += trigOverhead / batches
      if (workload == "stream_neardup") {
        val idx = Paths.get(p.table.root).resolveSibling("neardups").resolve("index")
        val files = if (Files.isDirectory(idx)) Fs.walkDir(idx).count(f =>
          f.getFileName.toString.endsWith(".parquet")) else 0
        layer("neardup.index_files_per_batch") += files.toDouble / batches
        layer("neardup.flagged_frac") += p.readNearDups().count().toDouble / validInserts
      }
    }
    // the scheduled compaction; a recorded cycle first times it on
    // forks of the same table state, so compact_s is a median
    val forks = if (record) CompactForks else 0
    (0 to forks).foreach { k =>
      val t = if (k == forks) p.table
        else p.table.shallowClone(dir.resolve(s"compact-fork-$k").toString)
      val cs = System.currentTimeMillis()
      sc.setJobDescription("perfbench compact_full")
      val (ok, ms) = timed(tryOp("compaction")(MergeOnRead.compact(t, s"compact-c$c",
        expireTombstonesBelow = cur.watermarkLsn + 1)))
      sc.setJobDescription(null)
      if (record) { compactMs += ms; if (ok.isEmpty) failed += 1 }
      if (withTrace) spans.add(cycleSpan, "compact_full", cs, cs + math.round(ms))
    }
    if (withTrace) {
      layer("table.space_amp") += bytesBefore.toDouble / math.max(1L, manifestBytes(p.table))
      layer("jvm.gc_ms") += Host.gcMs() - gc0
      spans.close(cycleSpan, System.currentTimeMillis())
      val jobs = clock.drain(spark)
      sc.removeSparkListener(clock)
      attribute(jobs, commits.toSeq)
      tracedCycles += 1
      tracedCompacts += forks + 1
    }
  }

  /** Run one operation; a failure is logged and reads as None. */
  private def tryOp[A](what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"perfbench: $what failed: $e")
        None
    }

  /** Lookups of `keys`, then `scans` full live-view aggregate scans. */
  private def reads(p: CdcPipeline, c: Int, b: Int, keys: Seq[String], record: Boolean,
      parent: Int, scans: Int = 1): Unit = {
    val withTrace = parent >= 0
    keys.foreach { k =>
      sc.setJobDescription("perfbench lookup")
      val start = System.currentTimeMillis()
      val (rows, ms) = timed(tryOp("lookup")(p.lookup(k).collect()))
      if (record) {
        lookupMs += ms
        rows match {
          case Some(rs) => lookupLog += lookupJson(b, k, rs)
          case None     => failed += 1
        }
      }
      if (withTrace) {
        spans.add(parent, "lookup", start, start + math.round(ms))
        tracedLookups += 1; lookupHits += rows.map(_.length).getOrElse(0)
      }
    }
    (0 until scans).foreach { _ =>
      sc.setJobDescription("perfbench scan")
      val start = System.currentTimeMillis()
      val (agg, ms) = timed(tryOp("scan")(
        p.readTable().agg(count(lit(1)), sum(col("n_tok"))).collect()(0)))
      if (record) {
        scanMs += ms
        agg match {
          case Some(r) =>
            scanLog += s"""{"b":$b,"rows":${r.getLong(0)},"n_tok":${if (r.isNullAt(1)) 0L else r.getLong(1)}}"""
          case None => failed += 1
        }
      }
      if (withTrace) {
        spans.add(parent, "scan", start, start + math.round(ms))
        tracedScans += 1; scanRows += agg.map(_.getLong(0)).getOrElse(0L)
      }
    }
    sc.setJobDescription(null)
  }

  /** Fold one traced cycle's jobs into phase sums and phase spans. */
  private def attribute(jobs: Seq[JobRec], commits: Seq[Commit]): Unit = {
    val byCommit = commits.map(c => c.commitId -> c).toMap
    val perPhase = mutable.Map.empty[(String, String), mutable.ArrayBuffer[JobRec]]
    jobs.foreach { j =>
      JobClock.phaseOf(j.desc).foreach { case (commit, ph) =>
        if (phases.contains(ph)) {
          phases(ph).add(j)
          perPhase.getOrElseUpdate(commit -> ph, mutable.ArrayBuffer.empty) += j
        }
      }
    }
    perPhase.foreach { case ((commit, ph), js) =>
      val iv = js.map(j => (j.start, j.end)).toSeq
      phases(ph).wallMs += JobClock.unionMs(iv)
      byCommit.get(commit).foreach(c =>
        spans.add(c.span, ph, iv.map(_._1).min, iv.map(_._2).max))
    }
    commits.foreach { c =>
      val inside = jobs.filter(j => j.start >= c.start && j.end <= c.end + 1)
      layer("streaming.jobs_per_batch_sum") += inside.size
      layer("streaming.driver_ms_sum") +=
        (c.end - c.start) - JobClock.unionMs(inside.map(j => (j.start, j.end)))
      def iv(ps: String*) = perPhase.collect {
        case ((cm, ph), js) if cm == c.commitId && ps.contains(ph) => js.map(j => (j.start, j.end))
      }.flatten.toSeq
      layer("streaming.overlap_ms_sum") +=
        JobClock.overlapMs(iv("neardup", "stage_errors"), iv("merge_cow", "merge_mor"))
    }
    tracedCommits += commits.size
  }

  /** Bytes of the data files the current manifest references. */
  private def manifestBytes(t: SnapshotTable): Long =
    t.current.map(m => (m.files ++ m.deltaFiles).map(f => Files.size(Paths.get(f.path))).sum)
      .getOrElse(0L)

  private def dirBytes(d: Path): Long =
    if (!Files.isDirectory(d)) 0L
    else Fs.walkDir(d).filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet")).map(Files.size(_)).sum

  /** Traced run only: conform+validate and LWW dedup on each staged
    * batch into a noop sink — both are fused into the merge jobs, so
    * this is their only standalone measure. */
  def standalone(): Map[String, Double] = {
    var cvMs, lwwMs = 0.0
    batchDirs.zipWithIndex.foreach { case (d, b) =>
      val split = Validate(Conform(read(d)), s"standalone-$b")
      cvMs += timed {
        split.valid.write.format("noop").mode("overwrite").save()
        split.errors.write.format("noop").mode("overwrite").save()
      }._2
      val valid = split.valid.persist()
      valid.count()
      lwwMs += timed(Dedup.lww(valid).write.format("noop").mode("overwrite").save())._2
      valid.unpersist()
    }
    val mev = batchEvents.sum / 1e6
    Map("conform_validate.ms_per_mevent" -> cvMs / mev, "dedup_lww.ms_per_mevent" -> lwwMs / mev)
  }

  /** The last cycle's final state and side tables, for the checker. */
  def dumpFinal(out: Path): Unit = {
    val (p, _) = last.get
    p.readTable().write.mode("overwrite").parquet(out.resolve("final_state").toString)
    Files.write(out.resolve("error_count.txt"), p.readErrors().count().toString.getBytes("UTF-8"))
    if (workload == "stream_neardup") {
      p.readNearDups().select("doc_id", "dup_of", "agree")
        .write.mode("overwrite").parquet(out.resolve("flags").toString)
      Files.write(out.resolve("neardup_ref.sql"), nearDupSql.getBytes("UTF-8"))
    }
    Files.write(out.resolve("lookups.jsonl"), lookupLog.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(out.resolve("scans.jsonl"), scanLog.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def writeResult(out: Path, setupS: Seq[Double], cycles: Int, calib: Double, steal: Double,
      extra: Map[String, Double]): Unit = {
    spans.close(runSpan, System.currentTimeMillis())
    val perLayer = if (!traced) "{}" else {
      val tc = math.max(1L, tracedCommits).toDouble
      val per: Map[String, Double] = Workload.Phases.map { ph =>
        ph -> (ph match {
          case "lookup"       => math.max(1L, tracedLookups).toDouble
          case "scan"         => math.max(1L, tracedScans).toDouble
          case "compact_full" => math.max(1L, tracedCompacts).toDouble
          case _              => tc
        })
      }.toMap
      val m = mutable.LinkedHashMap.empty[String, Double]
      phases.foreach { case (ph, a) =>
        val n = per(ph)
        m(s"$ph.wall_ms") = a.wallMs / n
        m(s"$ph.jobs") = a.jobs / n
        m(s"$ph.task_ms") = a.taskMs / n
        m(s"$ph.sched_wait_ms") = a.schedWaitMs / n
        m(s"$ph.shuffle_bytes") = a.shuffleBytes / n
        m(s"$ph.spill_bytes") = a.spillBytes / n
        m(s"$ph.input_bytes") = a.inputBytes / n
        m(s"$ph.output_bytes") = a.outputBytes / n
        m(s"$ph.failed_tasks") = a.failedTasks / n
      }
      val cyc = math.max(1L, tracedCycles).toDouble
      m("lookup.records_read_per_hit") = phases("lookup").recordsRead.toDouble / math.max(1L, lookupHits)
      m("lookup.tasks") = phases("lookup").tasks / per("lookup")
      m("scan.records_read_per_live_row") = phases("scan").recordsRead.toDouble / math.max(1L, scanRows)
      m("streaming.jobs_per_batch") = layer("streaming.jobs_per_batch_sum") / tc
      m("streaming.driver_ms_per_batch") = layer("streaming.driver_ms_sum") / tc
      m("streaming.overlap_ms_per_batch") = layer("streaming.overlap_ms_sum") / tc
      Seq("streaming.trigger_overhead_ms", "neardup.index_files_per_batch", "neardup.flagged_frac",
        "table.manifest_load_ms", "table.versions", "table.delta_files",
        "table.bytes_written_per_event", "table.space_amp", "jvm.gc_ms")
        .foreach(k => m(k) = layer(k) / cyc)
      extra.foreach { case (k, v) => m(k) = v }
      m("trace.overhead_pct") =
        (median(tracedCommitMs.toSeq) / median(untracedCommitMs.toSeq) - 1.0) * 100.0
      m.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    }
    val selfMs = if (!traced) "{}" else {
      spans.writeJsonl(out.resolve("spans.jsonl"))
      spans.selfMsByName.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    }
    def arr(xs: Seq[Double]) = xs.map(num).mkString("[", ",", "]")
    val json =
      s"""{"workload":"$workload","run_id":"$runId","cycles":$cycles,"cores":${Main.Cores},
         |"setup_s":${arr(setupS)},"commit_ms":${arr(commitMs.toSeq)},"events":$events,
         |"lookup_ms":${arr(lookupMs.toSeq)},"scan_ms":${arr(scanMs.toSeq)},
         |"compact_ms":${arr(compactMs.toSeq)},"failed":$failed,
         |"calib_ms":${num(calib)},"steal_pct":${num(steal)},
         |"per_layer":$perLayer,"span_self_ms":$selfMs}""".stripMargin
    Files.write(out.resolve("result.json"), json.getBytes("UTF-8"))
  }

  /** The q_dedup_incremental rule over the staged events, as DuckDB SQL
    * over a view `evs` (the oracle's one-shot recomputation). */
  private def nearDupSql: String = {
    import graft.functions.DedupOps
    s"""WITH ins AS (
          SELECT doc_id, lsn, tokens FROM evs
          WHERE op = 'I' AND doc_id IS NOT NULL
            AND tokens IS NOT NULL AND n_tok = len(tokens)),
        sigged AS (
          SELECT doc_id, lsn,
                 ${DedupOps.minhashSql(DedupOps.shinglesOfTokensSql("tokens"))} AS sig
          FROM ins),
        banded AS (
          SELECT doc_id, lsn, sig, u.band AS band, u.key AS key
          FROM (SELECT doc_id, lsn, sig, unnest(${DedupOps.bandKeysSql("sig")}) AS u
                FROM sigged)),
        pairs AS (
          SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS dup_of, a.lsn AS dup_lsn,
                 cast(list_sum(list_transform(range(1, ${DedupOps.NumHashes + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END)) AS int) AS agree
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.key = b.key
           AND (a.lsn < b.lsn OR (a.lsn = b.lsn AND a.doc_id < b.doc_id))),
        flagged AS (
          SELECT doc_id, dup_of, agree,
                 row_number() OVER (PARTITION BY doc_id ORDER BY dup_lsn, dup_of) AS rn
          FROM pairs WHERE agree >= ${graft.operators.DedupIndex.AgreeMin})
        SELECT doc_id, dup_of, agree FROM flagged WHERE rn = 1"""
  }
}

object Workload {
  /** trickle_mor's in-line fold threshold. Its batches are 3,1,4,2,6 %
    * of the table (stage.py): deltas pass 11% of the table only in the
    * fifth commit, so every cycle folds once, in its last commit, and the
    * reads before it all see deltas. The default, 0.5, would need more
    * delta rows than base rows, which a cycle never reaches. */
  val TrickleCompactThreshold = 0.11
  /** Scans after the last batch of a cycle (trickle_mor scans after each). */
  val ScansAfterCycle = 5
  /** Extra timed compactions per recorded cycle, each on a fork. */
  val CompactForks = 2

  val Phases: Seq[String] = Seq("neardup", "stage_errors", "probe", "merge_cow", "merge_mor",
    "compact", "publish", "compact_full", "lookup", "scan")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    }

  def lookupJson(b: Int, key: String, rows: Array[Row]): String = {
    val rs = rows.map { r =>
      val toks = r.getAs[scala.collection.Seq[Int]]("tokens")
      val src = r.getAs[String]("source")
      s"""{"doc_id":"${esc(r.getAs[String]("doc_id"))}","tokens":${
        if (toks == null) "null" else toks.mkString("[", ",", "]")},"n_tok":${
        r.getAs[Any]("n_tok")},"source":${if (src == null) "null" else "\"" + esc(src) + "\""}}"""
    }
    s"""{"b":$b,"key":"${esc(key)}","rows":${rs.mkString("[", ",", "]")}}"""
  }
}
