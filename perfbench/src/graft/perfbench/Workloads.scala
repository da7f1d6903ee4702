package graft.perfbench

import graft.{CurateMain, Document}
import graft.corpus.{Corpus, EvalCorpus}
import graft.eval.{Compare, EvalJob, J, Normalize}
import graft.extract.Extract
import graft.operators.{Curation, Dedup}
import graft.plans._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}

/** What one benchmark process works with. */
final case class Bench(spark: SparkSession, cores: Int, seed: Long, work: Path, tracer: Tracer) {
  def dir(name: String): String = work.resolve(name).toString
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One repetition's trace: its spans, jobs and stages. */
final case class RepTrace(wallS: Double, spans: Vector[SpanRec], jobs: Vector[JobRec], stages: Vector[StageRec]) {
  def named(n: String): Vector[SpanRec] = spans.filter(_.name == n)
  def seconds(n: String): Double        = named(n).map(_.seconds).sum
  def underLayer(layer: String): Set[Int] =
    Rollup.subtree(spans, spans.filter(_.layer == layer).map(_.id).toSet)
  def stagesUnder(ids: Set[Int]): Vector[StageRec] = stages.filter(s => ids(s.span))
  def jobsUnder(ids: Set[Int]): Vector[JobRec]     = jobs.filter(j => ids(j.span))
}

/** A batch workload: a fixed input built in set-up, one job per timed
  * repetition into a fresh output directory, and output checks that run
  * outside the timed region. */
trait Workload {
  type Out
  def name: String
  /** Input documents one repetition processes. */
  def inputDocs: Long
  /** Untimed jobs before the timed ones: job time keeps falling over the
    * first jobs of a fresh JVM while the JIT compiles the hot paths. */
  def warmups: Int = 2
  /** Session settings of the entry point the workload replays. */
  def sessionConf(cores: Int): Seq[(String, String)] = Nil
  /** Generate and materialize the program's input (timed as set-up). */
  def buildInput(b: Bench, dir: String): Unit
  /** Build what the checks compare against (untimed). */
  def prepareChecks(b: Bench, input: String): Unit
  /** The timed job. */
  def run(b: Bench, input: String, out: String, runId: String): Out
  /** Checks of one job's output, made after its clock stopped: the cheap
    * guards that the job did the full work from fresh state on every job,
    * the full output checks when `full`. Also returns the documents the
    * program itself reported as failed (kernel errors, error rows). */
  def check(b: Bench, input: String, out: String, o: Out, full: Boolean): (Seq[Check], Long)
  /** Checks made once per process, after the timed loop. */
  def finalChecks(b: Bench, input: String, lastOut: String): Seq[Check] = Nil
  /** Per-layer metrics of one traced repetition. */
  def layerMetrics(b: Bench, out: String, o: Out, t: RepTrace): Map[String, Double]
}

object Workload {
  val Names = Seq("extract_commit", "curate_dedup", "eval_fields")

  /** `scale` shrinks the inputs for the self-test; 1.0 is the benchmark. */
  def apply(name: String, scale: Double = 1.0): Workload = name match {
    case "extract_commit" => new ExtractCommit(math.max(100L, (1600 * scale).toLong))
    case "curate_dedup"   => new CurateDedup(math.max(200, (2500 * scale).toInt))
    case "eval_fields"    => new EvalFields(math.max(100L, (4000 * scale).toLong))
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def successMarker(dir: String): Boolean = Files.exists(Paths.get(dir, "_SUCCESS"))

  /** Bytes of the files under `dir`, Hadoop checksum files excluded. */
  def treeBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .map(Files.size).sum
  }
}

// ---------------------------------------------------------------------------

/** ExtractMain's committed path (fused mode, its session settings) over a
  * seeded `Corpus.input` table: resume prune → extraction kernel behind the
  * bucket-key shuffle → bucketed staging write + manifest commit. */
final class ExtractCommit(val nDocs: Long) extends Workload {
  type Out = ExtractCommit.Out
  import ExtractCommit.Out

  val name      = "extract_commit"
  def inputDocs = nDocs

  override def sessionConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.files.maxPartitionBytes" -> s"${16 * 1024 * 1024}",
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2")

  private def nBuckets(b: Bench) = b.cores * 8

  def buildInput(b: Bench, dir: String): Unit =
    ExtractJob.generateInputs(b.spark, nDocs, b.seed, b.cores * 2).write.mode("overwrite").parquet(dir)

  private var goldens    = ""
  private var expected   = Map.empty[Int, Long] // bucket -> docs
  private var inputBytes = 0L

  def prepareChecks(b: Bench, input: String): Unit = {
    import b.spark.implicits._
    goldens = b.dir("goldens")
    ExtractJob.generateGoldens(b.spark, nDocs, b.seed, b.cores * 2).write.mode("overwrite").parquet(goldens)
    expected = b.spark.read.parquet(input).select("doc_id").as[String].collect().toSeq
      .groupBy(ManifestIO.bucketValue(_, nBuckets(b))).map { case (k, v) => k -> v.size.toLong }
    inputBytes = Workload.treeBytes(input)
  }

  def run(b: Bench, input: String, out: String, runId: String): Out = {
    import b.spark.implicits._
    val sc        = b.spark.sparkContext
    val lineage   = new LineageAccumulator
    val bucketAcc = new BucketStatsAccumulator
    sc.register(lineage, "extract-lineage")
    sc.register(bucketAcc, "bucket-stats")
    val nb = nBuckets(b)
    val in = b.tracer.span("plans.prune") {
      ManifestIO.pruneCommitted(b.spark.read.parquet(input).as[Document], out, nBuckets = nb)
    }
    val extracted = b.tracer.span("plans.extract") {
      ExtractJob.extract(in, numPartitions = nb, lineage = Some(lineage),
        partitionExpr = Some(ManifestIO.bucketExpr(nb)), bucketStats = Some((bucketAcc, nb, 0)))
    }
    val committed = b.tracer.span("plans.write") {
      ManifestIO.write(extracted, out, nBuckets = nb, runId = runId,
        prePartitioned = true, statsSource = Some(bucketAcc))
    }
    Out(committed, lineage.value)
  }

  private def kernelErrors(o: Out): Long = o.lineage.values.map(_.errors).sum

  def check(b: Bench, input: String, out: String, o: Out, full: Boolean): (Seq[Check], Long) = {
    import b.spark.implicits._
    val docs = o.lineage.values.map(_.docs).sum
    val guards = Seq(
      Check("kernel_saw_every_doc", docs == nDocs, s"$docs of $nDocs documents through the kernel"),
      ExtractCommit.commitCheck(o.committed, expected),
      ExtractCommit.manifestCheck(ManifestIO.readManifests(b.spark, out), expected, nDocs))
    val outputs =
      if (!full) Nil
      else Seq(ExtractCommit.goldenCheck(GoldenDiff.matchRate(ManifestIO.read(b.spark, out),
        b.spark.read.parquet(goldens).as[Document]), nDocs))
    (guards ++ outputs, kernelErrors(o))
  }

  override def finalChecks(b: Bench, input: String, lastOut: String): Seq[Check] = {
    val again = run(b, input, lastOut, "rerun")
    Seq(ExtractCommit.rerunCheck(again.committed, again.lineage.values.map(_.docs).sum))
  }

  def layerMetrics(b: Bench, out: String, o: Out, t: RepTrace): Map[String, Double] = {
    val plans   = t.underLayer("plans")
    val stages  = t.stagesUnder(plans)
    val write   = t.named("plans.write")
    val jobWall = Rollup.unionSeconds(t.jobsUnder(Rollup.subtree(t.spans, write.map(_.id).toSet))
      .map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    val (mapStages, resultStages) = stages.partition(_.shuffleMap)
    def union(ss: Seq[StageRec]) = Rollup.unionSeconds(ss.map(s => (s.submitMs.toDouble, s.completeMs.toDouble)))
    val shuffleS = union(mapStages)
    val kernelS  = union(resultStages)
    val commitS  = write.map(_.seconds).sum - jobWall
    Map(
      "extract.kernel_cpu_s"       -> o.lineage.values.map(_.nanos).sum / 1e9,
      "extract.spans_out"          -> o.lineage.values.map(_.spans).sum.toDouble,
      "extract.errors"             -> kernelErrors(o).toDouble,
      "plans.shuffle_stage_s"      -> shuffleS,
      "plans.kernel_stage_s"       -> kernelS,
      "plans.commit_s"             -> commitS,
      "plans.unattributed_s"       -> (t.wallS - shuffleS - kernelS - commitS),
      "plans.shuffle_write_bytes"  -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "plans.gc_s"                 -> stages.map(_.gcMs).sum / 1e3,
      "plans.spill_bytes"          -> stages.map(_.spillBytes).sum.toDouble,
      "plans.out_bytes_per_in_byte" -> Workload.treeBytes(s"$out/data").toDouble / inputBytes,
      "plans.partition_occupancy"  -> o.lineage.count(_._2.docs > 0).toDouble / nBuckets(b),
      "plans.task_skew"            -> Rollup.taskSkew(resultStages))
  }
}

object ExtractCommit {
  final case class Out(committed: Seq[BucketManifest], lineage: Map[Int, PartitionStats])

  /** This repetition committed every bucket the input has, with the
    * bucket's full document count — a reused or half-resumed table would
    * commit fewer. */
  def commitCheck(committed: Seq[BucketManifest], expected: Map[Int, Long]): Check = {
    val got = committed.map(m => m.bucket -> m.docCount).toMap
    Check("committed_every_bucket", got == expected,
      s"${got.size} of ${expected.size} buckets committed by this run")
  }

  def manifestCheck(ms: Seq[BucketManifest], expected: Map[Int, Long], nDocs: Long): Check = {
    val committed = ms.filter(_.status == "committed")
    val total     = committed.map(_.docCount).sum
    Check("manifest_doc_count", total == nDocs && committed.map(m => m.bucket -> m.docCount).toMap == expected,
      s"manifests sum to $total documents over ${committed.size} buckets, want $nDocs over ${expected.size}")
  }

  def goldenCheck(rate: (Long, Long), nDocs: Long): Check = {
    val (total, matching) = rate
    Check("golden_match_rate", total == nDocs && matching == total, s"$matching of $total documents match their golden")
  }

  def rerunCheck(committed: Seq[BucketManifest], kernelDocs: Long): Check =
    Check("rerun_commits_nothing", committed.isEmpty && kernelDocs == 0,
      s"a rerun into the committed table committed ${committed.size} buckets, kernel saw $kernelDocs documents")
}

// ---------------------------------------------------------------------------

/** `CurateMain.run` over a seeded corpus with planted exact and near
  * duplicates. The traced run replays the same calls stage by stage so each
  * stage gets its own span; the untraced run calls `CurateMain.run`. */
final class CurateDedup(val nBase: Int) extends Workload {
  type Out = CurateDedup.Out
  import CurateDedup.Out

  val name = "curate_dedup"
  /** Each repetition runs ~60 Spark jobs and compiles ~140 generated
    * classes anew (they outnumber Spark's codegen cache), so the JIT stays
    * busy for longer: job CPU time still falls by a quarter from the third
    * job to the fifth, and the fall is slower and steeper when the host is
    * busy, so a timed job still inside it turns host noise into spread. */
  override val warmups = 4
  private var planted: CurateInput.Planted = _
  def inputDocs: Long = CurateInput.totalDocs(nBase)

  def buildInput(b: Bench, dir: String): Unit = {
    import b.spark.implicits._
    CurateInput.generate(nBase, b.seed)._1.toDS().repartition(1).write.mode("overwrite").parquet(dir)
  }

  def prepareChecks(b: Bench, input: String): Unit =
    planted = CurateInput.generate(nBase, b.seed)._2

  def run(b: Bench, input: String, out: String, runId: String): Out =
    if (!b.tracer.on) { CurateMain.run(b.spark, input, out); Out(None, 0) }
    else replay(b, input, out)

  /** CurateMain.run's calls in its order, one span per stage. */
  private def replay(b: Bench, input: String, out: String): Out = {
    val spark = b.spark
    val tr    = b.tracer
    def stage(path: String)(compute: => DataFrame): DataFrame = {
      compute.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val raw = spark.read.parquet(input).select(col("doc_id"), col("text"))
    val (nRaw, deduped) = tr.span("operators.gate") {
      val n = raw.count()
      (n, stage(s"$out/stages/deduped")(Curation.exactDedupKeepers(Curation.qualityGate(raw))))
    }
    val banded = tr.span("operators.banded") {
      stage(s"$out/stages/banded")(Dedup.bandedKeysFor(deduped))
    }
    val pairs = tr.span("operators.lsh") { Dedup.minhashLshFrom(deduped, banded) }
    val (clusters, rounds) = tr.span("operators.cc") {
      val (labels, r) = Dedup.connectedComponentsIter(pairs.select("doc_a", "doc_b"))
      (stage(s"$out/stages/clusters")(labels), r)
    }
    tr.span("operators.pack") {
      Curation.packFrom(Curation.keepersFrom(deduped, clusters), Curation.packBucketsFor(nRaw))
        .write.mode("overwrite").partitionBy("split").parquet(s"$out/packed")
      val written = spark.read.parquet(s"$out/packed")
      deduped.count(); clusters.select(col("cluster_id")).distinct().count()
      written.count(); written.select(col("split"), col("bucket"), col("shard")).distinct().count()
      written.filter(col("split") === "train").count()
    }
    Out(Some(pairs), rounds)
  }

  def check(b: Bench, input: String, out: String, o: Out, full: Boolean): (Seq[Check], Long) = {
    import b.spark.implicits._
    val stages = Seq("deduped", "banded", "clusters").map(s => s"$out/stages/$s") :+ s"$out/packed"
    val guard  = Check("every_stage_written", stages.forall(Workload.successMarker),
      stages.filterNot(Workload.successMarker).mkString("missing: ", ", ", ""))
    if (!full || !guard.ok) (Seq(guard), 0L)
    else {
      val packed = b.spark.read.parquet(s"$out/packed").select("doc_id").as[Long].collect().toSet
      val labels = b.spark.read.parquet(s"$out/stages/clusters").select("doc_id", "cluster_id")
        .as[(Long, Long)].collect().toMap
      (guard +: CurateDedup.plantedChecks(planted, packed, labels), 0L)
    }
  }

  def layerMetrics(b: Bench, out: String, o: Out, t: RepTrace): Map[String, Double] = {
    val ops    = t.underLayer("operators")
    val stages = t.stagesUnder(ops)
    val busy   = Rollup.unionSeconds(t.stages.map(s => (s.submitMs.toDouble, s.completeMs.toDouble)))
    // counted after the clock stopped: pairs sharing any band key in the
    // banded stage table, and the verified pairs LSH kept
    val bd = b.spark.read.parquet(s"$out/stages/banded")
    val candidates = bd.as("l").join(bd.as("r"),
        col("l.band") === col("r.band") && col("l.k1") === col("r.k1") &&
          col("l.k2") === col("r.k2") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id")).distinct().count()
    val verified = o.pairs.map(_.count()).getOrElse(0L)
    Map(
      "operators.gate_s"          -> t.seconds("operators.gate"),
      "operators.banded_s"        -> t.seconds("operators.banded"),
      "operators.lsh_s"           -> t.seconds("operators.lsh"),
      "operators.cc_s"            -> t.seconds("operators.cc"),
      "operators.pack_s"          -> t.seconds("operators.pack"),
      "operators.cc_rounds"       -> o.ccRounds.toDouble,
      "operators.candidate_pairs" -> candidates.toDouble,
      "operators.verified_pairs"  -> verified.toDouble,
      "operators.lsh_precision"   -> (if (candidates > 0) verified.toDouble / candidates else 0.0),
      "operators.jobs"            -> t.jobsUnder(ops).size.toDouble,
      "operators.driver_only_s"   -> (t.wallS - busy),
      "operators.shuffle_bytes"   -> stages.map(_.shuffleWriteBytes).sum.toDouble)
  }
}

object CurateDedup {
  /** The verified pairs and CC rounds of a traced (replayed) job. */
  final case class Out(pairs: Option[DataFrame], ccRounds: Int)

  def plantedChecks(p: CurateInput.Planted, packed: Set[Long], cluster: Map[Long, Long]): Seq[Check] = {
    val copiesLeft = p.exact.collect { case (_, copy) if packed(copy) => copy }
    val unmerged   = p.near.collect {
      case (src, nd) if cluster.get(nd).isEmpty || cluster.get(nd) != cluster.get(src) || packed(nd) => nd
    }
    val shortLeft  = p.short.filter(packed)
    val baseLost   = p.base.filterNot(packed)
    Seq(
      Check("exact_copies_removed", copiesLeft.isEmpty,
        s"${copiesLeft.size} of ${p.exact.size} planted exact copies survived"),
      Check("near_dups_share_source_cluster", unmerged.isEmpty,
        s"${unmerged.size} of ${p.near.size} planted near-duplicates not clustered with their source"),
      Check("short_docs_gated", shortLeft.isEmpty, s"${shortLeft.size} of ${p.short.size} short documents kept"),
      Check("base_docs_kept", baseLost.isEmpty && packed.size == p.base.size,
        s"${p.base.size - baseLost.size} of ${p.base.size} base documents kept, ${packed.size} in total"))
  }
}

// ---------------------------------------------------------------------------

/** EvalMain's pipeline over materialized seeded goldens and predictions:
  * a clean folder (noise only) and a defect folder (planted missing and
  * mismatched fields). evaluate (materialized) → one CSV per folder →
  * folder summary. */
final class EvalFields(val nDocs: Long) extends Workload {
  type Out = EvalFields.Out

  import EvalFields.{Clean, Defect, Out, docId, folder}

  val name      = "eval_fields"
  def inputDocs = nDocs
  /** Job CPU time still fell by a fifth from the third job to the fifth
    * when the host was busy. */
  override val warmups = 3

  def buildInput(b: Bench, dir: String): Unit = {
    import b.spark.implicits._
    val seed = b.seed
    val ids  = b.spark.range(0, nDocs, 1, b.cores * 2)
    ids.map(i => EvalJob.JsonDoc(docId(i), folder(i), J.canonical(EvalCorpus.groundTruth(i, seed))))
      .write.mode("overwrite").parquet(s"$dir/goldens")
    ids.map { i =>
      val pred = if (folder(i) == Clean) EvalCorpus.prediction(i, seed, 0.0) else EvalCorpus.plantedPrediction(i, seed)._1
      EvalJob.JsonDoc(docId(i), folder(i), J.canonical(pred))
    }.write.mode("overwrite").parquet(s"$dir/preds")
  }

  private var planted = Map.empty[String, (Int, Int)] // defect doc -> (missing, mismatched)

  def prepareChecks(b: Bench, input: String): Unit = {
    val seed = b.seed
    planted = (0L until nDocs).filter(folder(_) == Defect).map { i =>
      val (_, _, missing, mismatched) = EvalCorpus.plantedPrediction(i, seed)
      docId(i) -> (missing, mismatched)
    }.toMap
  }

  def run(b: Bench, input: String, out: String, runId: String): Out = {
    import b.spark.implicits._
    val tr      = b.tracer
    val preds   = b.spark.read.parquet(s"$input/preds").as[EvalJob.JsonDoc]
    val goldens = b.spark.read.parquet(s"$input/goldens").as[EvalJob.JsonDoc]
    val metrics = tr.span("eval.evaluate") {
      val m = EvalJob.evaluate(preds, goldens).cache(); m.count(); m
    }
    tr.span("eval.csv") { EvalJob.writeCsv(metrics.filter(_.folder == Clean), s"$out/$Clean") }
    tr.span("eval.csv") { EvalJob.writeCsv(metrics.filter(_.folder == Defect), s"$out/$Defect") }
    val summary = tr.span("eval.summary") {
      EvalJob.folderSummary(metrics).collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    }
    metrics.unpersist()
    Out(summary)
  }

  private var lastErrorRows = 0L

  def check(b: Bench, input: String, out: String, o: Out, full: Boolean): (Seq[Check], Long) = {
    val want  = Map(Clean -> (nDocs - planted.size), Defect -> planted.size.toLong)
    val files = o.summary.map { case (f, (n, _)) => f -> n }
    val guard = Check("every_file_evaluated", files == want &&
      want.keys.forall(f => Workload.successMarker(s"$out/$f")),
      s"files evaluated per folder $files, want $want")
    if (!full) (Seq(guard), 0L)
    else {
      def rows(f: String) = b.spark.read.option("header", "true").csv(s"$out/$f")
        .select("file", "accuracy", "summary", "missing_count", "mismatched_count").collect()
        .map(r => (r.getString(0), r.getString(1).toDouble, r.getString(2), r.getString(3).toInt, r.getString(4).toInt))
      val clean  = rows(Clean)
      val defect = rows(Defect)
      lastErrorRows = (clean ++ defect).count(_._3.startsWith("extract_failed")).toLong
      (guard +: EvalFields.checks(o.summary.get(Clean).map(_._2), clean.map(r => r._1 -> r._2).toSeq,
        defect.map(r => r._1 -> (r._4, r._5)).toMap, planted, want(Clean)), lastErrorRows)
    }
  }

  def layerMetrics(b: Bench, out: String, o: Out, t: RepTrace): Map[String, Double] = {
    val stages = t.stagesUnder(t.underLayer("eval"))
    Map(
      "eval.evaluate_s"    -> t.seconds("eval.evaluate"),
      "eval.csv_s"         -> t.seconds("eval.csv"),
      "eval.summary_s"     -> t.seconds("eval.summary"),
      "eval.shuffle_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "eval.gc_s"          -> stages.map(_.gcMs).sum / 1e3,
      "eval.error_rows"    -> lastErrorRows.toDouble)
  }
}

object EvalFields {
  final case class Out(summary: Map[String, (Long, Double)])

  val Clean  = "set-clean"
  val Defect = "set-defect"
  def folder(i: Long): String = if (i % 2 == 0) Clean else Defect
  def docId(i: Long): String  = f"doc_$i%08d"

  def checks(cleanSummaryAccuracy: Option[Double], clean: Seq[(String, Double)],
      defect: Map[String, (Int, Int)], planted: Map[String, (Int, Int)], nClean: Long): Seq[Check] = {
    val wrongCounts = planted.keys.filter(k => !defect.get(k).contains(planted(k))).toSeq.sorted
    Seq(
      Check("clean_accuracy_is_1", cleanSummaryAccuracy.contains(1.0) && clean.size == nClean &&
        clean.forall(_._2 == 1.0),
        s"clean folder: summary accuracy $cleanSummaryAccuracy over ${clean.size} of $nClean files"),
      Check("defect_counts_match_planted", wrongCounts.isEmpty && defect.size == planted.size,
        s"${wrongCounts.size} of ${planted.size} defect files with missing/mismatched counts off the planted ones" +
          wrongCounts.headOption.map(k => s" (first: $k got ${defect.get(k)} want ${planted(k)})").getOrElse("")))
  }
}

// ---------------------------------------------------------------------------

/** Single-thread direct calls into the row kernels over a fixed seeded
  * sample: the per-document cost without Spark around it. */
object Micro {
  private def nsPerDoc[A](sample: IndexedSeq[A], passes: Int)(f: A => Any): Double = {
    sample.foreach(f) // warm
    Rollup.median((1 to passes).map { _ =>
      val t0 = System.nanoTime(); sample.foreach(f); (System.nanoTime() - t0).toDouble / sample.size
    })
  }

  /** `Extract.document` over 200 seeded corpus documents (two are mega). */
  def extractNsPerDoc(seed: Long): Double =
    nsPerDoc((0L until 200L).map(Corpus.input(_, seed)), passes = 5)(Extract.document)

  /** The per-document calls `EvalJob.evaluate` makes (parse, normalize,
    * repair fallback, compare, metrics) over 400 seeded golden/prediction
    * pairs, half of them with planted defects. */
  def evalNsPerDoc(seed: Long): Double = {
    val sample = (0L until 400L).map { i =>
      val pred = if (i % 2 == 0) EvalCorpus.prediction(i, seed, 0.0) else EvalCorpus.plantedPrediction(i, seed)._1
      (J.canonical(EvalCorpus.groundTruth(i, seed)), J.canonical(pred))
    }
    nsPerDoc(sample, passes = 5) { case (gtJson, predJson) =>
      val gt   = Normalize.groundTruthToResponse(Normalize.unwrapData(J.parse(gtJson)))
      val pred = J.parseOpt(predJson)
        .orElse(J.parseOpt(graft.functions.Kernels.scala_.repairJson(predJson)))
        .collect { case o: J.JObj => o }
        .getOrElse(J.JObj(Vector.empty))
      Compare.metrics(Compare.compareJson(gt, Normalize.unwrapData(pred)))
    }
  }
}
