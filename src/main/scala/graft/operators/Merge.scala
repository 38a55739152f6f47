package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.table.{Manifest, SnapshotTable}

/** Result of applying one change batch. */
case class MergeStats(
    commitId: String,
    version: Long,
    skipped: Boolean,
    touchedBuckets: Int,
    rowsBefore: Long,
    rowsAfter: Long,
    inserted: Long,
    updated: Long,
    deleted: Long,
    deleteNoops: Long,
    staleEvents: Long,
    batchEvents: Long,
    minLsn: Long,
    maxLsn: Long,
    wallMs: Long,
    schemaChanges: Seq[String])

/** Copy-on-write MERGE of a deduped change batch into a [[SnapshotTable]].
  *
  * Reference analog: `update_sde`'s guarded delete-partition-then-append
  * (UpdateAddressPointsSDE.py:26-63), made atomic by the snapshot commit
  * and idempotent by the commit-id ledger + row-level LSN condition.
  *
  * Scale design (10^10-event target):
  *  - Only buckets the batch touches are read and rewritten; untouched
  *    buckets' files carry forward by manifest reference (zero IO).
  *  - The target⋈batch full-outer join shuffles both sides on doc_id;
  *    AQE handles skewed buckets (skew-join split) and the batch side was
  *    already LWW-reduced (one row per key) by [[Dedup]]. VERIFIED that
  *    AQE applies here despite the per-batch "adaptive.enabled is not
  *    supported in streaming" warning — that covers only the outer
  *    streaming plan; this join executes under AdaptiveSparkPlanExec
  *    inside foreachBatch (PlanSpec "AQE wraps the MERGE join" gate).
  *  - All merge metrics come from `Dataset.observe` on the single write
  *    pass — no second job over the join.
  *  - Row-level condition `batch.lsn > target._lsn` makes replayed or
  *    out-of-order events no-ops even if the ledger is bypassed.
  *
  * Why a JOIN here and a bucket-local FOLD in [[MergeOnRead]] (measured,
  * round 2, 48M events / 32 cores): an eager delta-commit+fold variant of
  * COW was built and benched at 307 s for 2 batches vs 116 s for 4 with
  * this join — for BULK batches the fold writes the batch twice (delta +
  * folded base) and pays a row-codec fold over the whole touched slice
  * per batch, where the join shuffles once and writes once. The fold
  * architecture wins exactly when batches are small relative to the
  * table (measured 1.43× end-to-end), which is what mode="mor" +
  * [[MergeOnRead.foldTouched]] compaction is for. Workload shape picks
  * the mode; neither subsumes the other.
  */
object Merge {

  val LsnCol  = "_lsn"
  /** Deletes persist as tombstone rows (payload nulled, `_lsn` = delete
    * LSN) so LAST-writer-wins stays correct under ANY delivery order —
    * without them, a delete applied before a lower-LSN insert of the same
    * doc arrives would let the late insert resurrect the doc (Kafka
    * log-compaction / Iceberg equality-delete semantics). Readers filter
    * them; compaction/vacuum can expire them below the applied-LSN
    * frontier. */
  val TombCol = "_tombstone"

  val InternalCols: Seq[String] = Seq(LsnCol, TombCol)

  /** Change-stream metadata columns — everything an event carries that is
    * NOT payload. The single source of truth for every surface that
    * splits event shape from payload shape (merge, bootstrap, the
    * pipeline's table-create filter, the bootstrap banned-column check):
    * adding a new event-level column here keeps all of them agreeing. */
  val EventMetaCols: Seq[String] = Seq("lsn", "op", "ingest_ts")

  /** Payload columns = everything that persists in the target table. */
  private def payloadSchemaOf(batch: DataFrame): StructType =
    StructType(batch.schema.fields.filterNot(f => EventMetaCols.contains(f.name)))

  /** Physical strategy for the touched-slice merge — same result rows,
    * same stats, different plan (equivalence-gated in MergeVariantSpec;
    * measured A/B in BASELINE.md round 4):
    *  - "join": full-outer join target⋈batch on doc_id (sort-merge under
    *    AQE) and a routing exchange before the write — the touched slice
    *    crosses TWO full exchanges and both join inputs externally sort
    *    their full payload rows.
    *  - "shj": the same join with a shuffle_hash hint on the BATCH side —
    *    identical data movement, but the sort-merge's two full-payload
    *    external sorts become one hash map build over the batch side.
    *  - "fold": union(target-as-events, batch) through ONE bucket-keyed
    *    exchange (identity-probe remap, doc_id never a shuffle key), then
    *    the MOR in-partition LWW run-fold, written pre-partitioned — one
    *    exchange total and no separate write routing.
    * The default is "join", by measurement, everywhere (same-JVM
    * interleaved A/B — `BenchOne cowab` — 16M events / 32 cores at 64,
    * 1024, 4096, and 10000 buckets; full tables in BASELINE.md round 4):
    * no variant separates from the pack beyond this box's run-to-run
    * noise in any reproduced regime. One session showed fold +19% at
    * exactly 1024 buckets; the rerun in a verified-healthy window put
    * all three within 4 s of each other there, marking the "win" a
    * degraded-window artifact — a bucket-count-adaptive default built
    * on it was shipped briefly and REVERTED. The alternatives stay
    * selectable (and equivalence-gated) because the A/B conclusion is
    * box-shaped: on a cluster where the SMJ's external sorts actually
    * spill, fold's single exchange is the variant to re-measure first.
    *
    * `GRAFT_MERGE` (env) overrides for whole-JVM A/B runs; the
    * `graft.merge.variant` system property overrides both so a same-JVM
    * interleaved A/B can switch variants between runs without a JVM
    * restart. */
  private[graft] def defaultVariant: String =
    envChoice(
      sys.props.get("graft.merge.variant").orElse(sys.env.get("GRAFT_MERGE")),
      Seq("join", "shj", "fold"), "merge variant override")
      .getOrElse("join")

  /** A study override's value (`GRAFT_MERGE`, `GRAFT_FOLD`): empty/blank
    * means unset (`export GRAFT_MERGE=` must not kill every merge);
    * anything outside `allowed` (GRAFT_MERGE=sjh) fails loudly instead
    * of running the default plan while the A/B labels its numbers with
    * the typo. */
  private[graft] def envChoice(
      raw: Option[String], allowed: Seq[String], label: String): Option[String] =
    raw.map(_.trim).filter(_.nonEmpty).map { v =>
      require(allowed.contains(v), s"unknown $label '$v' (${allowed.mkString("|")})")
      v
    }

  def apply(
      table: SnapshotTable,
      dedupedBatch: DataFrame,
      commitId: String,
      batchId: Long): MergeStats =
    apply(table, dedupedBatch, commitId, batchId, variant = "")

  /** @param variant "join" | "shj" | "fold", or "" for the default
    *   ("join", unless a `GRAFT_MERGE` / `graft.merge.variant` override
    *   is set — [[defaultVariant]]).
    * @param preCommitBarrier invoked after the survivors are written,
    *   immediately BEFORE the first commit attempt — the pipeline joins
    *   its concurrent side-table staging here (guide §2.6) so staged
    *   errors stay durable before any manifest commit. */
  def apply(
      table: SnapshotTable,
      dedupedBatch: DataFrame,
      commitId: String,
      batchId: Long,
      variant: String,
      preCommitBarrier: () => Unit = () => ()): MergeStats = {
    require(variant.isEmpty || Set("join", "shj", "fold").contains(variant),
      s"unknown merge variant '$variant' (join|shj|fold or empty for default)")
    val t0  = System.nanoTime()
    val cur0 = table.current.getOrElse(
      throw new IllegalStateException("table has no snapshot; create() first"))

    if (table.appliedCommitIds.contains(commitId)) {
      // Exactly-once: the ledger says this commit already landed.
      return MergeStats(commitId, cur0.version, skipped = true, 0,
        cur0.rowCount, cur0.rowCount, 0, 0, 0, 0, 0, 0, -1, -1,
        (System.nanoTime() - t0) / 1000000, Seq.empty)
    }

    // A COW merge joins only BASE files; pending MOR deltas (pipeline
    // restarted in cow mode after running mor) would silently vanish.
    // Fold them first — targeted: only delta-CARRYING buckets rewrite
    // (foldTouched), not the whole table. Idempotent: a crash-replay
    // re-enters with the deltas already empty and the fold skips.
    val cur =
      if (cur0.deltaFiles.isEmpty) cur0
      else {
        MergeOnRead.foldTouched(table, s"$commitId.pre-compact", batchId)
        table.current.get
      }

    // ---- schema gate / evolution ----
    val targetPayload =
      StructType(cur.schema.fields.filterNot(f => InternalCols.contains(f.name)))
    val (evolvedPayload, changes) =
      SchemaEvolution.evolve(targetPayload, payloadSchemaOf(dedupedBatch))
    val physicalSchema = StructType(evolvedPayload.fields ++ Seq(
      StructField(LsnCol, LongType, nullable = false),
      StructField(TombCol, BooleanType, nullable = true)))

    val numBuckets = cur.numBuckets
    val mergeVariant = if (variant.nonEmpty) variant else defaultVariant
    def bucketOf(docId: Column): Column =
      pmod(xxhash64(docId), lit(numBuckets.toLong)).cast("int")

    // Touched buckets = the EXACT distinct bucket set of the batch, in
    // ONE narrow probe job (round-6 optimization; guide §1.2 "remove
    // passes"). History of this decision:
    //  - round 2 trusted `optimizedPlan.stats.sizeInBytes/256`, which a
    //    filter inflates arbitrarily — at 10k buckets a trickle batch
    //    misclassified as big meant a full 10k-bucket rewrite;
    //  - rounds 3-5 ran an exact `limit(T+1).count()` THRESHOLD probe to
    //    classify big-vs-trickle, plus a second `distinct` pass (and a
    //    persist of the deduped batch) on the trickle side. But the
    //    threshold probe still executed the LWW dedup's full map side
    //    per batch, and the bucket set is identical before and after
    //    dedup (bucket is a pure function of doc_id; LWW never drops a
    //    key) — so the classification bought nothing the distinct
    //    doesn't already give exactly.
    // Here: project the bucket id, distinct, collect (≤ numBuckets ints
    // — the same bounded-collect class as before). Catalyst's
    // ColumnPruning + RemoveRedundantAggregates collapse the unused LWW
    // aggregate under the distinct, so the probe scans ONE column with
    // map-side partial distinct (≤ numBuckets rows per task cross the
    // exchange) instead of reducing the full payload. The persist is
    // gone with the double-execution that needed it: the merge join is
    // now the only consumer that executes the dedup. Gated by
    // PipelineSpec "trickle batch with an inflated plan estimate still
    // takes the touched-bucket path" (the probe never consults plan
    // stats).
    val batch = dedupedBatch.withColumn("_bucket", bucketOf(col("doc_id")))
    locally {
      val touched: Set[Int] =
        batch.select("_bucket").distinct().collect().map(_.getInt(0)).toSet

      // ---- merge only the touched slice of the target ----
      val targetSlice = SchemaEvolution.align(
        table.read(Some(cur.version), Some(touched)), physicalSchema)
      val payloadCols = evolvedPayload.fieldNames.toSeq
      val present     = batch.columns.toSet
      // batch payload aligned to the evolved schema (cast + null-fill)
      def batchAligned(extra: Column*): DataFrame = batch.select(
        evolvedPayload.fields.toIndexedSeq.map { f =>
          if (present.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        } ++ extra: _*)

      val obs  = Observation(s"merge-$commitId")
      val obsB = if (mergeVariant == "fold") Some(Observation(s"merge-batch-$commitId")) else None

      val survivors: DataFrame = mergeVariant match {
        case "fold" =>
          // Union + ONE bucket-keyed exchange + in-partition LWW run-fold
          // (the MOR fold machinery), written pre-partitioned. The batch
          // observation rides the union's batch leg; action counts ride
          // the fold output — both evaluate in the single write pass.
          val batchEvents = batchAligned(col("lsn"), col("op"))
            .withColumn("_from_base", lit(false))
            .observe(obsB.get,
              count(lit(1)).as("batch_events"),
              min(col("lsn")).as("min_lsn"),
              max(col("lsn")).as("max_lsn"))
          val baseEvents = targetSlice.select(
            payloadCols.map(col) ++ Seq(
              col(LsnCol).as("lsn"),
              when(coalesce(col(TombCol), lit(false)), lit("D"))
                .otherwise(lit("I")).as("op"),
              lit(true).as("_from_base")): _*)
          // BATCH side LEFT in the union: a Dataset chain carries its
          // LEFT root's SparkSession, and inside a streaming foreachBatch
          // the micro-batch df lives in a CLONED session. An Observation
          // registers its listener on the session of the df it observes,
          // but fires only when THAT session executes the action — with
          // the base (original-session) side on the left, obsB registered
          // on the clone while the write ran on the original, and
          // `obsB.get` parked forever (caught by Verify's streaming
          // fixture; batch-mode callers share one session and never see
          // it). Batch-left keeps observations and execution on one
          // session; row order is irrelevant (the LWW fold sorts).
          val routed = SnapshotTable.routeByBucket(
            batchEvents.unionByName(baseEvents)
              .withColumn("_b", bucketOf(col("doc_id"))),
            col("_b"), numBuckets).drop("_b")
          val a = col(MergeOnRead.ActionCol)
          def cnt(k: String, v: String) = sum(when(a === v, 1L).otherwise(0L)).as(k)
          MergeOnRead.localLww(
              routed, evolvedPayload.fields.toIndexedSeq, classified = true)
            // match the join variant's tombstone shape exactly: a winning
            // delete persists payload-null (doc_id excepted) whatever the
            // event carried
            .select(evolvedPayload.fields.toSeq.map { f =>
              if (f.name == "doc_id") col(f.name)
              else when(col(TombCol), lit(null).cast(f.dataType))
                .otherwise(col(f.name)).as(f.name)
            } ++ Seq(col(LsnCol), col(TombCol), a): _*)
            .observe(obs,
              cnt("inserted", "insert"), cnt("updated", "update"),
              cnt("deleted", "delete"), cnt("delete_noops", "delete_noop"),
              cnt("stale", "stale"))
            .drop(MergeOnRead.ActionCol)
            .withColumn("_bucket", bucketOf(col("doc_id")))

        case v => // "join" | "shj"
          val tt  = targetSlice.as("t")
          val bb0 = batchAligned(col("lsn"), col("op"), col("_bucket")).as("b")
          // shuffle_hash on the batch side: same movement as the sort-
          // merge plan, but the two full-payload external sorts become a
          // hash-map build over the (already LWW-reduced) batch side
          val bb  = if (v == "shj") bb0.hint("shuffle_hash") else bb0

          val j         = tt.join(bb, tt("doc_id") === bb("doc_id"), "full_outer")
          val takeBatch = bb("doc_id").isNotNull &&
            (tt("doc_id").isNull || bb("lsn") > tt(LsnCol))
          val ttLive = tt("doc_id").isNotNull && !coalesce(tt(TombCol), lit(false))
          // "tombstone": a winning delete persists as a row (see TombCol) —
          // for stats it is split live-target (delete) vs not (delete_noop)
          val action = when(tt("doc_id").isNotNull && !takeBatch, lit("keep"))
            .when(takeBatch && bb("op") =!= "D" && ttLive, lit("update"))
            .when(takeBatch && bb("op") =!= "D", lit("insert"))
            .when(takeBatch && bb("op") === "D" && ttLive, lit("delete"))
            .otherwise(lit("delete_noop"))
          val isTomb = col("_action").isin("delete", "delete_noop")

          val outCols: Seq[Column] =
            payloadCols.map { f =>
              val fromBatch = if (f == "doc_id") bb(f) else when(isTomb, lit(null)).otherwise(bb(f))
              when(col("_action") === "keep", tt(f)).otherwise(fromBatch).as(f)
            } ++ Seq(
              when(col("_action") === "keep", tt(LsnCol)).otherwise(bb("lsn")).as(LsnCol),
              when(col("_action") === "keep", coalesce(tt(TombCol), lit(false)))
                .otherwise(isTomb).as(TombCol),
              coalesce(bb("_bucket"), bucketOf(tt("doc_id"))).as("_bucket"))

          val annotated = j
            .withColumn("_action", action)
            .observe(
              obs,
              sum(when(col("_action") === "insert", 1L).otherwise(0L)).as("inserted"),
              sum(when(col("_action") === "update", 1L).otherwise(0L)).as("updated"),
              sum(when(col("_action") === "delete", 1L).otherwise(0L)).as("deleted"),
              sum(when(col("_action") === "delete_noop", 1L).otherwise(0L)).as("delete_noops"),
              sum(when(col("_action") === "keep" && bb("doc_id").isNotNull, 1L).otherwise(0L)).as("stale"),
              sum(when(bb("doc_id").isNotNull, 1L).otherwise(0L)).as("batch_events"),
              min(bb("lsn")).as("min_lsn"),
              max(bb("lsn")).as("max_lsn"))

          // ALL rows survive — tombstones included
          annotated
            .select(outCols :+ col("_action"): _*)
            .drop("_action")
      }

      val tW0      = System.nanoTime()
      val newFiles = table.writeDataFiles(survivors, commitId, numBuckets,
        prePartitioned = mergeVariant == "fold")
      if (sys.env.contains("GRAFT_TIMING"))
        System.err.println(f"[merge] variant=$mergeVariant writeDataFiles=${(System.nanoTime() - tW0) / 1e9}%.2fs")
      val m  = obs.get
      val mB = obsB.map(_.get)

      def g(k: String): Long =
        m.get(k).orElse(mB.flatMap(_.get(k))) match {
          case Some(null)    => -1L
          case Some(v: Long) => v
          case Some(v: Number) => v.longValue()
          case _             => -1L
        }

      val maxLsn = g("max_lsn")
      val minLsn = g("min_lsn")
      // an empty batch applied no events; -1 from the observation means
      // "no rows seen", which for changesSince must read as nothing-below
      val minEventLsn = if (minLsn < 0) Long.MaxValue else minLsn
      preCommitBarrier()

      // Optimistic concurrency for COW (the MOR appends already rebase —
      // MergeOnRead.apply): losing the version CAS re-checks the new head
      // and either REBASES (the interloper's base rewrites are disjoint
      // from our touched buckets — our files are still exact, only the
      // manifest needs re-pointing; deltas the interloper appended stay
      // pending and resolve at read time, which the LWW fold makes
      // order-independent) or fails with a typed [[CommitConflict]] —
      // never a half-applied state: the loser's data files are
      // unreferenced orphans vacuum sweeps, and a clean retry is simply
      // calling Merge again against the new head (the ledger keeps a
      // replayed winner idempotent). Reference analog: the guarded
      // publish that checks before replacing, UpdateAddressPointsSDE
      // .py:33-39 — guard, don't corrupt.
      var attempt   = 0
      var stats: MergeStats = null
      while (stats == null) {
        val head = table.current.get
        if (head.version != cur.version && table.appliedCommitIds.contains(commitId)) {
          // The SAME logical commit landed from a twin process: nothing
          // here committed → report a ledger skip. Twin COW writers are
          // physically safe since round 5: writeDataFiles gives every
          // WRITER a unique c-<id>.<nonce> data dir, so the loser's
          // files can never interleave with (or overwrite-delete) the
          // winner's — they are true orphans vacuum sweeps, exactly the
          // MOR delta contract (PipelineSpec "twin COW writers of the
          // same commitId" drives the race explicitly).
          stats = MergeStats(commitId, head.version, skipped = true, 0,
            cur.rowCount, cur.rowCount, 0, 0, 0, 0, 0, 0, -1, -1,
            (System.nanoTime() - t0) / 1000000, Seq.empty)
        } else {
          if (head.version != cur.version) {
            if (head.numBuckets != numBuckets)
              throw CommitConflict(commitId, touched,
                s"concurrent rebucket: table now has ${head.numBuckets} buckets, " +
                  s"merge computed against $numBuckets")
            val overlap = conflictingBuckets(cur, head, touched)
            if (overlap.nonEmpty)
              throw CommitConflict(commitId, overlap,
                s"commit $commitId lost the race on buckets ${overlap.toSeq.sorted.take(8)}" +
                  s"${if (overlap.size > 8) "…" else ""}: a concurrent commit rewrote them; " +
                  "retry the merge against the new head")
          }
          // additive evolution by the interloper (e.g. a MOR append with a
          // new column) rebases cleanly: readers null-fill our files
          val headPayload = StructType(head.schema.fields.filterNot(f =>
            InternalCols.contains(f.name)))
          val (rebasedPayload, _) = SchemaEvolution.evolve(headPayload, evolvedPayload)
          val rebasedSchema = StructType(rebasedPayload.fields ++ Seq(
            StructField(LsnCol, LongType, nullable = false),
            StructField(TombCol, BooleanType, nullable = true)))
          val carried = table.filesExcept(head, touched)
          val newRows = newFiles.map(_.rows).sum + carried.map(_.rows).sum
          try {
            table.commit(Manifest(
              version = head.version + 1,
              parent = head.version,
              commitId = commitId,
              batchId = batchId,
              schemaJson = rebasedSchema.json,
              numBuckets = numBuckets,
              watermarkLsn = math.max(head.watermarkLsn, maxLsn),
              rowCount = newRows,
              files = carried ++ newFiles,
              deltaFiles = head.deltaFiles,
              deltaRows = head.deltaRows,
              minEventLsn = minEventLsn))
            stats = MergeStats(
              commitId, head.version + 1, skipped = false, touched.size,
              cur.rowCount, newRows,
              inserted = g("inserted"), updated = g("updated"), deleted = g("deleted"),
              deleteNoops = g("delete_noops"), staleEvents = g("stale"),
              batchEvents = g("batch_events"), minLsn = g("min_lsn"), maxLsn = maxLsn,
              wallMs = (System.nanoTime() - t0) / 1000000,
              schemaChanges = changes.map(_.toString))
          } catch {
            case _: java.nio.file.FileAlreadyExistsException if attempt < 20 =>
              attempt += 1 // lost the CAS — re-examine the new head
          }
        }
      }
      stats
    }
  }

  /** Touched buckets whose BASE file set changed between the snapshot a
    * merge computed against and the head it is about to commit onto: a
    * concurrent commit rewrote them, so the merge's rewritten files are
    * stale there. Disjoint (empty result) ⇒ safe rebase: the merge's
    * files are still exact, and any deltas the interloper appended stay
    * pending and fold at read time (LWW is order-independent). */
  private[graft] def conflictingBuckets(
      computedAgainst: Manifest, head: Manifest, touched: Set[Int]): Set[Int] = {
    def byBucket(m: Manifest) =
      m.files.filter(f => touched.contains(f.bucket)).groupBy(_.bucket)
        .map { case (b, fs) => b -> fs.map(_.path).toSet }
    val curB  = byBucket(computedAgainst)
    val headB = byBucket(head)
    touched.filter(b => curB.getOrElse(b, Set.empty) != headB.getOrElse(b, Set.empty))
  }

  /** A copy-on-write commit lost its race to a concurrent commit that
    * rewrote one of its touched buckets (or changed the bucket count):
    * the computed files are stale and must not publish. State is clean —
    * nothing was committed, the loser's data files are unreferenced
    * orphans ([[graft.table.SnapshotTable.vacuum]] sweeps them) — and
    * the retry path is simply re-running the merge against the new head. */
  case class CommitConflict(commitId: String, buckets: Set[Int], message: String)
      extends RuntimeException(message)
}
