package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.operators.MergeOnRead
import graft.streaming.{CdcPipeline, PipelineConfig}
import graft.table.Fs

/** Table reads plan from the manifest's file list (ManifestFileIndex):
  * no listing job, no glob, and a missing file fails the read instead
  * of shrinking it. */
class ManifestReadSpec extends SparkSpec {

  private type Row3 = (List[Int], Long, String)

  private def morPipeline(tableRoot: String, base: String, buckets: Int): CdcPipeline =
    new CdcPipeline(spark, PipelineConfig(
      tableRoot = tableRoot, changeLogDir = s"$base/changelog",
      checkpointDir = s"$base/checkpoint", errorDir = s"$base/errors",
      lineageDir = s"$base/lineage", numBuckets = buckets, mode = "mor",
      compactThreshold = Double.PositiveInfinity))

  private def frame(evs: Seq[OracleFold.Ev]): DataFrame = {
    import spark.implicits._
    evs.map(e => (e.lsn, e.op, e.docId, Option(e.tokens).map(_.toList), e.nTok, e.source))
      .toDF("lsn", "op", "doc_id", "tokens", "n_tok", "source")
  }

  private def state(df: DataFrame): Map[String, Row3] =
    df.select("doc_id", "tokens", "n_tok", "source").collect().map { r =>
      r.getString(0) ->
        ((r.getSeq[Int](1).toList, r.getAs[Number](2).longValue, r.getString(3)))
    }.toMap

  private def expected(evs: Seq[OracleFold.Ev]): Map[String, Row3] =
    OracleFold.fold(evs).map { case (k, d) => k -> ((d.tokens.toList, d.nTok, d.source)) }

  /** `batches` micro-batches over `docs` keys: an insert batch, then
    * mixed insert/update/delete batches of `perBatch` events. */
  private def batches(
      seed: Int, docs: Int, nBatches: Int, perBatch: Int): Seq[Seq[OracleFold.Ev]] = {
    val rnd = new scala.util.Random(seed)
    var lsn = 0L
    def ev(op: String, k: Int): OracleFold.Ev = {
      lsn += 1
      if (op == "D") OracleFold.Ev(lsn, op, s"doc-$k", null, None, "s")
      else {
        val toks = List.fill(1 + rnd.nextInt(4))(rnd.nextInt(100))
        OracleFold.Ev(lsn, op, s"doc-$k", toks, Some(toks.size.toLong), "s")
      }
    }
    val first = (0 until docs).map(ev("I", _))
    first +: (1 until nBatches).map { _ =>
      (0 until perBatch).map { _ =>
        ev(Seq("I", "U", "U", "D")(rnd.nextInt(4)), rnd.nextInt(docs + 8))
      }
    }
  }

  test("planning a table read starts no Spark job (manifest is the file list)") {
    val base = tmpDir("mfi-nojob")
    val p    = morPipeline(s"$base/table", base, buckets = 16)
    val bs   = batches(seed = 11, docs = 64, nBatches = 6, perBatch = 24)
    bs.zipWithIndex.foreach { case (b, i) => p.applyBatch(frame(b), i.toLong) }
    val m = p.table.current.get
    // above Spark's 32-path parallel-listing threshold, and nothing folded
    assert(m.deltaFiles.size > 32, s"fixture must carry >32 delta files: ${m.deltaFiles.size}")
    val want = expected(bs.flatten)
    val key  = want.keys.min

    val group = s"mfi-probe-${Fs.nonce}"
    val seen  = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties).flatMap(ps =>
          Option(ps.getProperty("spark.jobGroup.id"))).getOrElse(""))
        ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (table, one) =
      try {
        sc.setJobGroup(group, "plan a table read")
        val t = p.readTable()
        val l = p.lookup(key)
        t.queryExecution.executedPlan
        l.queryExecution.executedPlan
        // a marker job: listener events arrive in order, so once the
        // marker is seen every job the planning started has been seen
        sc.setJobGroup(s"$group-marker", "marker")
        sc.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!seen.contains(s"$group-marker") && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(seen.contains(s"$group-marker"), "listener never saw the marker job")
        (t, l)
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    import scala.collection.JavaConverters._
    val planJobs = seen.asScala.count(_ == group)
    assert(planJobs == 0, s"planning the read started $planJobs Spark job(s)")

    assert(state(table) == want, "manifest-planned read diverges from the oracle fold")
    assert(state(one) == want.filter(_._1 == key))
  }

  test("table roots under glob metacharacters ({ and [) read, look up and compact") {
    Seq("t{a}", "t[1]", "t{a,b}[xy]").foreach { dirName =>
      val base = tmpDir("mfi-glob")
      val root = Paths.get(base, dirName, "table").toString
      val p    = morPipeline(root, base, buckets = 4)
      val bs   = batches(seed = 5, docs = 20, nBatches = 3, perBatch = 10)
      bs.zipWithIndex.foreach { case (b, i) => p.applyBatch(frame(b), i.toLong) }
      val want = expected(bs.flatten)
      assert(state(p.readTable()) == want, s"$dirName: readTable")
      val key = want.keys.min
      assert(state(p.lookup(key)) == want.filter(_._1 == key), s"$dirName: lookup")
      val st = MergeOnRead.compact(p.table, s"compact-$dirName")
      assert(!st.skipped && p.table.current.get.deltaFiles.isEmpty)
      assert(p.table.current.get.files.forall(_.path.contains(dirName)))
      assert(state(p.readTable()) == want, s"$dirName: readTable after compact")
    }
  }

  test("a data file deleted out of band fails the read, never shrinks it") {
    val base = tmpDir("mfi-missing")
    val p    = morPipeline(s"$base/table", base, buckets = 4)
    val bs   = batches(seed = 3, docs = 30, nBatches = 3, perBatch = 12)
    bs.zipWithIndex.foreach { case (b, i) => p.applyBatch(frame(b), i.toLong) }
    val m = p.table.current.get
    assert(m.deltaFiles.nonEmpty)

    // planned before the delete: the scan task hits the missing file
    val planned = p.readTable()
    Files.delete(Paths.get(m.deltaFiles.head.path))
    val e = intercept[Exception](planned.collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    assert(causes.exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"read failed for another reason: $e")

    // planned after the delete: the driver's stat of the file fails
    val missing = intercept[java.nio.file.NoSuchFileException](p.readTable())
    assert(missing.getMessage.contains(m.deltaFiles.head.path), missing.getMessage)
  }
}
