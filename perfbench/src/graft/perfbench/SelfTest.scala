package graft.perfbench

import graft.Document
import graft.plans.{GoldenDiff, ManifestIO}

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The benchmark's output checks against planted faults: each workload runs
  * once on a small input, every check must pass on the real output, and
  * each check must fail once its fault is planted.
  *
  *   graft.perfbench.SelfTest --cores <n> --work <dir>
  *
  * Prints one line per expectation; exits 1 if any is not met. */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Boolean)]

  private def expect(what: String, ok: Boolean): Unit = {
    results += what -> ok
    println(s"${if (ok) "ok  " else "FAIL"} $what")
  }

  private def passes(what: String, cs: Seq[Check]): Unit =
    cs.foreach(c => expect(s"$what: ${c.name} passes (${c.detail})", c.ok))

  private def fails(what: String, cs: Seq[Check], name: String): Unit =
    expect(s"$what: $name fails", cs.exists(c => c.name == name && !c.ok))

  def main(args: Array[String]): Unit = {
    val kv    = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val cores = kv.getOrElse("--cores", "2").toInt
    val work  = Paths.get(kv("--work"))
    Files.createDirectories(work)
    Workload.Names.foreach { name =>
      val w     = Workload(name, scale = 0.05)
      val spark = BenchMain.session(w, cores, work)
      try {
        val b     = Bench(spark, cores, 7L, work.resolve(name), new Tracer(spark.sparkContext))
        val input = b.dir("input")
        w.buildInput(b, input)
        w.prepareChecks(b, input)
        val out = b.dir("out")
        val r   = w.run(b, input, out, "self-test")
        passes(name, w.check(b, input, out, r, full = true)._1)
        w match {
          case e: ExtractCommit => extractFaults(b, e, input, out, r.asInstanceOf[ExtractCommit.Out])
          case c: CurateDedup   => curateFaults(b, c, input, out, r.asInstanceOf[CurateDedup.Out])
          case v: EvalFields    => evalFaults(b, v, input, out, r.asInstanceOf[EvalFields.Out])
        }
      } finally spark.stop()
    }
    val bad = results.count(!_._2)
    println(s"${results.size - bad} of ${results.size} expectations met")
    if (bad > 0) sys.exit(1)
  }

  private def extractFaults(b: Bench, w: ExtractCommit, input: String, out: String, r: ExtractCommit.Out): Unit = {
    import b.spark.implicits._
    val n        = w.nDocs
    val expected = r.committed.map(m => m.bucket -> m.docCount).toMap
    fails("extract: a partition the kernel never saw",
      w.check(b, input, out, r.copy(lineage = r.lineage - r.lineage.keys.min), full = false)._1,
      "kernel_saw_every_doc")
    fails("extract: a bucket left uncommitted",
      Seq(ExtractCommit.commitCheck(r.committed.tail, expected)), "committed_every_bucket")
    val ms = ManifestIO.readManifests(b.spark, out)
    fails("extract: a manifest line lost",
      Seq(ExtractCommit.manifestCheck(ms.tail, expected, n)), "manifest_doc_count")
    val bent = ManifestIO.read(b.spark, out).map { d =>
      if (d.spans.isEmpty) d else Document(d.doc_id, d.spans.updated(0, d.spans.head.copy(text = d.spans.head.text + "!")))
    }
    fails("extract: one changed span in every document",
      Seq(ExtractCommit.goldenCheck(GoldenDiff.matchRate(bent, b.spark.read.parquet(b.dir("goldens")).as[Document]), n)),
      "golden_match_rate")
    passes("extract: rerun", w.finalChecks(b, input, out))
    Files.list(Paths.get(out, "_manifest")).filter(_.toString.endsWith("run-self-test.json")).forEach(Files.delete(_))
    fails("extract: rerun after the manifests were lost", w.finalChecks(b, input, out), "rerun_commits_nothing")
  }

  private def curateFaults(b: Bench, w: CurateDedup, input: String, out: String, r: CurateDedup.Out): Unit = {
    val p      = CurateInput.generate(w.nBase, b.seed)._2
    val packed = p.base.toSet
    val labels = (p.base.map(i => i -> i) ++ p.near.map { case (s, nd) => nd -> s }).toMap
    passes("curate: the intended result", CurateDedup.plantedChecks(p, packed, labels))
    fails("curate: an exact copy kept",
      CurateDedup.plantedChecks(p, packed + p.exact.head._2, labels), "exact_copies_removed")
    fails("curate: a near-duplicate in its own cluster",
      CurateDedup.plantedChecks(p, packed, labels.updated(p.near.head._2, p.near.head._2)),
      "near_dups_share_source_cluster")
    fails("curate: a short document kept",
      CurateDedup.plantedChecks(p, packed + p.short.head, labels), "short_docs_gated")
    fails("curate: a base document lost",
      CurateDedup.plantedChecks(p, packed - p.base.head, labels), "base_docs_kept")
    Files.delete(Paths.get(out, "stages", "banded", "_SUCCESS"))
    fails("curate: a stage table never committed", w.check(b, input, out, r, full = true)._1,
      "every_stage_written")
  }

  private def evalFaults(b: Bench, w: EvalFields, input: String, out: String, r: EvalFields.Out): Unit = {
    val planted = (0L until w.nDocs).filter(EvalFields.folder(_) == EvalFields.Defect).map { i =>
      val (_, _, missing, mismatched) = graft.corpus.EvalCorpus.plantedPrediction(i, b.seed)
      EvalFields.docId(i) -> (missing, mismatched)
    }.toMap
    val nClean = w.nDocs - planted.size
    val clean  = (0L until nClean).map(i => EvalFields.docId(2 * i) -> 1.0)
    passes("eval: the intended result", EvalFields.checks(Some(1.0), clean, planted, planted, nClean))
    fails("eval: clean accuracy below 1",
      EvalFields.checks(Some(0.9995), clean.updated(0, clean.head._1 -> 0.5), planted, planted, nClean),
      "clean_accuracy_is_1")
    val (k, (miss, mism)) = planted.head
    fails("eval: a mismatch not detected",
      EvalFields.checks(Some(1.0), clean, planted.updated(k, (miss, mism - 1)), planted, nClean),
      "defect_counts_match_planted")
    fails("eval: a folder never evaluated",
      w.check(b, input, out, r.copy(summary = r.summary - EvalFields.Defect), full = false)._1,
      "every_file_evaluated")
    fails("eval: a defect file missing",
      EvalFields.checks(Some(1.0), clean, planted - k, planted, nClean), "defect_counts_match_planted")
  }
}
