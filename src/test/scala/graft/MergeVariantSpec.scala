package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ingest.CdcGenerator
import graft.operators.{Conform, Dedup, Merge, MergeOnRead, Validate}
import graft.streaming.{CdcPipeline, PipelineConfig}

/** The three physical strategies of the COW merge (join / shj / fold —
  * [[Merge.apply]]) are PLANS, not semantics: same deduped batch onto the
  * same table must produce identical persisted rows (tombstones and `_lsn`
  * included), identical MergeStats, and identical changelog output. These
  * gates license the BASELINE.md round-4 A/B to pick the default purely on
  * measured throughput. */
class MergeVariantSpec extends SparkSpec {

  private val Variants = Seq("join", "shj", "fold")

  private def mkPipeline(base: String, buckets: Int = 8): CdcPipeline =
    new CdcPipeline(spark, PipelineConfig(
      tableRoot = s"$base/table",
      changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint",
      errorDir = s"$base/errors",
      lineageDir = s"$base/lineage",
      numBuckets = buckets,
      mode = "cow"))

  /** Every persisted row — live AND tombstone — with internal columns. */
  private def rawRows(p: CdcPipeline): Set[String] =
    p.table.read(None, None).collect()
      .map(r => r.toSeq.map(v => String.valueOf(v)).mkString("|")).toSet

  private def statsKey(s: graft.operators.MergeStats): Product =
    (s.skipped, s.touchedBuckets, s.rowsBefore, s.rowsAfter, s.inserted,
      s.updated, s.deleted, s.deleteNoops, s.staleEvents, s.batchEvents,
      s.minLsn, s.maxLsn)

  test("merge variants: identical state, stats, and changelog on the generator stream") {
    val raw = CdcGenerator.events(spark, sf0001)
    // 3 LSN-interleaved slices: inserts, updates, G3 deletes, replays —
    // every action class crosses every variant, out of order
    def slice(b: Int): DataFrame =
      Dedup.lww(Validate(Conform(raw.filter(pmod(col("lsn"), lit(3)) === b)), s"b$b").valid)

    val results = Variants.map { v =>
      val base = tmpDir(s"mv-$v")
      val p    = mkPipeline(base)
      // identical setup for every variant: batch 0 through the pipeline
      p.applyBatch(raw.filter(pmod(col("lsn"), lit(3)) === 0), 0L)
      val v0 = p.table.currentVersion.get
      val s1 = Merge(p.table, slice(1), "mv-1", 1L, v)
      val s2 = Merge(p.table, slice(2), "mv-2", 2L, v)
      // replaying an applied slice must be all-stale under every variant
      val s3 = Merge(p.table, slice(1), "mv-replay", 3L, v)
      val changes = MergeOnRead.changesSince(p.table, v0).collect()
        .map(r => r.toSeq.map(String.valueOf(_)).mkString("|")).toSet
      (v, rawRows(p), Seq(s1, s2, s3).map(statsKey), changes)
    }

    val (_, wantRows, wantStats, wantChanges) = results.head
    // the fixture must actually merge work: a drifted generator/slicing
    // that made every merge a no-op would let the 3-way compare pass on
    // all-zero stats (batchEvents is statsKey position 9)
    assert(wantStats.exists(_.productElement(9).asInstanceOf[Long] > 0L) &&
      wantRows.nonEmpty && wantChanges.nonEmpty, s"degenerate fixture: $wantStats")
    results.tail.foreach { case (v, rows, stats, changes) =>
      assert(stats == wantStats, s"variant $v stats diverge: $stats vs $wantStats")
      assert(rows == wantRows, s"variant $v persisted rows diverge " +
        s"(got ${rows.size}, want ${wantRows.size}; " +
        s"sample diff: ${(rows diff wantRows).take(2)} / ${(wantRows diff rows).take(2)})")
      assert(changes == wantChanges, s"variant $v changelog diverges")
    }
  }

  test("merge variants: edge parity — non-null delete payload, absent-doc delete, empty batch, LSN tie") {
    import spark.implicits._
    def batch(rows: (Long, String, String, Option[Seq[Int]], Option[Long], String)*) =
      rows.toSeq.toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")

    val results = Variants.map { v =>
      val base = tmpDir(s"mve-$v")
      val p    = mkPipeline(base)
      p.applyBatch(batch(
        (10L, "I", "A", Some(Seq(1)), Some(1L), "s"),
        (11L, "I", "B", Some(Seq(2)), Some(1L), "s")), 0L)
      // a delete CARRYING payload must persist payload-null either way;
      // deleting an absent doc is a counted no-op tombstone; an event at
      // the exact stored LSN is stale (strict >, base wins ties)
      val s1 = Merge(p.table, batch(
        (20L, "D", "A", Some(Seq(9, 9)), Some(2L), "junk"),
        (21L, "D", "ghost", None, None, "s"),
        (11L, "U", "B", Some(Seq(7)), Some(1L), "tie")), "e-1", 1L, v)
      val s2 = Merge(p.table, batch(), "e-empty", 2L, v)
      (v, rawRows(p), Seq(s1, s2).map(statsKey))
    }
    val (_, wantRows, wantStats) = results.head
    // the fixture must actually exercise the classes it claims
    assert(wantStats.head == ((false, 3, 2L, 3L, 0L, 0L, 1L, 1L, 1L, 3L, 11L, 21L)),
      s"fixture drifted: ${wantStats.head}")
    results.tail.foreach { case (v, rows, stats) =>
      assert(stats == wantStats, s"variant $v stats diverge: $stats vs $wantStats")
      assert(rows == wantRows, s"variant $v rows diverge: $rows vs $wantRows")
    }
  }

  test("default variant is join; overrides win and typo'd overrides fail loudly") {
    assert(Merge.defaultVariant == "join")
    // the same-JVM A/B override (BenchOne cowab) wins over the default
    sys.props("graft.merge.variant") = "shj"
    try assert(Merge.defaultVariant == "shj")
    finally sys.props.remove("graft.merge.variant")
    // a typo'd override must not silently bench the join plan under the
    // wrong label
    sys.props("graft.merge.variant") = "sjh"
    try intercept[IllegalArgumentException](Merge.defaultVariant)
    finally sys.props.remove("graft.merge.variant")
    // but empty/blank means unset (`export GRAFT_MERGE=`), not an error
    sys.props("graft.merge.variant") = " "
    try assert(Merge.defaultVariant == "join")
    finally sys.props.remove("graft.merge.variant")
  }

  test("GRAFT_FOLD override: known folds pass, blank is unset, a typo fails fast") {
    import graft.operators.MergeOnRead.FoldChoices
    def fold(raw: Option[String]) = Merge.envChoice(raw, FoldChoices, "GRAFT_FOLD")
    Seq("agg", "sort", "wa").foreach(v => assert(fold(Some(v)).contains(v)))
    assert(fold(None).isEmpty)
    assert(fold(Some(" ")).isEmpty)
    // a typo must not silently run some other fold while a study
    // labels its numbers with the typo
    val e = intercept[IllegalArgumentException](fold(Some("srot")))
    assert(e.getMessage.contains("srot") && e.getMessage.contains("agg|sort|wa"),
      e.getMessage)
  }

  test("capped-width regime (numBuckets > 4x parallelism): variants still agree") {
    // Above 4·parallelism buckets routeByBucket caps its width below
    // numBuckets, so every write/fold task carries a residue CLASS of
    // buckets — a shape the 8-bucket tests never reach. Drive all three
    // variants plus the "" default through that regime and require
    // identical state and stats.
    val para    = spark.sparkContext.defaultParallelism
    val buckets = 4 * para + 17
    val raw = CdcGenerator.events(spark, sf0001)
    def slice(b: Int): DataFrame =
      Dedup.lww(Validate(Conform(raw.filter(pmod(col("lsn"), lit(2)) === b)), s"c$b").valid)

    val results = ("" +: Variants).map { v =>
      val base = tmpDir(s"mvw-${if (v.isEmpty) "default" else v}")
      val p    = mkPipeline(base, buckets)
      p.applyBatch(raw.filter(pmod(col("lsn"), lit(2)) === 0), 0L)
      val s = Merge(p.table, slice(1), "mvw-1", 1L, v)
      // the capped write must still produce at most one file per bucket
      val m = p.table.current.get
      assert(m.files.groupBy(f => (f.bucket, f.path.contains("c-mvw-1"))).forall(_._2.size == 1),
        s"variant '$v': multiple files for one bucket in one commit")
      (v, rawRows(p), statsKey(s))
    }
    val (_, wantRows, wantStats) = results.head
    assert(wantStats.productElement(9).asInstanceOf[Long] > 0L, "degenerate fixture")
    results.tail.foreach { case (v, rows, stats) =>
      assert(stats == wantStats, s"variant $v stats diverge: $stats vs $wantStats")
      assert(rows == wantRows, s"variant $v rows diverge (got ${rows.size}, want ${wantRows.size})")
    }
  }

  test("merge variants: schema evolution through the fold path") {
    import spark.implicits._
    val results = Variants.map { v =>
      val base = tmpDir(s"mvs-$v")
      val p    = mkPipeline(base)
      p.applyBatch(
        Seq((1L, "I", "A", Some(Seq(1)), Some(1L), "s"))
          .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source"), 0L)
      // batch adds a column: target rows null-fill, batch rows carry it
      val wide = Seq((2L, "U", "B", Some(Seq(2)), Some(1L), "s", "en"))
        .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source", "lang")
      val s = Merge(p.table, wide, "mvs-1", 1L, v)
      assert(s.schemaChanges.nonEmpty, s"variant $v: no evolution recorded")
      (v, rawRows(p))
    }
    val wantRows = results.head._2
    assert(wantRows.exists(_.contains("en")), "evolved column not persisted")
    results.tail.foreach { case (v, rows) =>
      assert(rows == wantRows, s"variant $v evolved rows diverge")
    }
  }
}
