package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gaf._
import graft.gaf.Constants._
import graft.operators.{AnnotMerge, Consolidator, MergeSink}
import graft.plans.Snapshot
import graft.sources.GafReader

/** The weekly job as its users run it: open every input as a new
  * DataFrame, `PipelineRunner.runAll`, then write the final FULL_ANNOT
  * table as parquet.
  */
object Workloads {
  val all: Seq[String] = Seq("weekly_rerun", "multispecies")

  /** taxa the all-species demux keeps (dog and pig are kept but not run) */
  val DemuxTaxa: Seq[Int] = Seq(9606, 10090, 9615, 9823)

  def humanCfg(runTs: java.sql.Timestamp): PipelineConfig =
    PipelineConfig(HUMAN, Gen.HumanRef, REF_ISO, Seq("UniProtKB", "HGNC"), runTs)
  def mouseCfg(runTs: java.sql.Timestamp): PipelineConfig =
    PipelineConfig(MOUSE, Gen.MouseRef, REF_ISO, Seq("MGI"), runTs)

  /** Fresh frames over the dimension parquet files. */
  def dims(spark: SparkSession, base: String): Dimensions = {
    def t(n: String) = spark.read.parquet(s"$base/dims/$n")
    Dimensions(t("rgd_ids"), t("genes"), t("xdb"), t("history"),
      t("ont_terms"), t("ont_synonyms"), t("ont_dag"), t("orthologs"))
  }

  /** What one run did, as the checks need it. */
  final case class Outcome(species: Seq[(String, Map[String, Long],
      MergeSink.StaleReport)], iso: Option[MergeSink.StaleReport]) {
    def op(o: String): Long = species.iterator.map(_._2.getOrElse(o, 0L)).sum
    def reports: Seq[MergeSink.StaleReport] = species.map(_._3) ++ iso.toSeq
    def deleted: Long = reports.iterator
      .filter(r => !r.aborted).map(_.staleCount).sum
    def brakeTrips: Int = reports.count(_.aborted)
  }

  /** The species runs of a workload over freshly opened inputs. */
  def speciesRuns(spark: SparkSession, in: Gen.Inputs, work: String,
                  d: Dimensions, existing: DataFrame,
                  spans: Spans): Seq[PipelineRunner.SpeciesRun] = {
    val dir = in.dir
    in.workload match {
      case "warmup" =>
        Seq(PipelineRunner.SpeciesRun("human",
          GafReader.read(spark, s"$dir/human.gaf.gz"), humanCfg(Gen.RunTs)))
      case "weekly_rerun" =>
        Seq(PipelineRunner.SpeciesRun("human",
          GafReader.read(spark, s"$dir/human_week1.gaf.gz"), humanCfg(Gen.RunTs)))
      case "multispecies" =>
        val gaf = GafReader.read(spark, s"$dir/all_species.gaf.gz")
        spans("sources.demux")(GafReader.splitByTaxon(gaf, DemuxTaxa, s"$work/demux"))
        Seq(
          PipelineRunner.SpeciesRun("mouse",
            spark.read.parquet(s"$work/demux/taxon_id=10090"), mouseCfg(Gen.RunTs)),
          PipelineRunner.chinchillaRun(existing, d, REF_ISO, Gen.RunTs))
    }
  }

  /** One run of the weekly job: inputs opened fresh, runAll, final
    * table committed as parquet at `work/full_annot`.
    */
  def run(spark: SparkSession, in: Gen.Inputs, work: String,
          spans: Spans): Outcome = {
    val d = dims(spark, in.base)
    val existing = spark.read.parquet(in.existing)
    val runs = speciesRuns(spark, in, work, d, existing, spans)
    val rep = spans("runner.runAll")(
      PipelineRunner.runAll(existing, d, runs, REF_ISO, Gen.Cutoff))
    try spans("bench.write")(
      rep.finalTable.write.mode("overwrite").parquet(s"$work/full_annot"))
    finally rep.release()
    Outcome(rep.species, rep.isoStale)
  }

  /** Weekly re-run input: last week's file run by the program into a
    * table of other references gives this week's existing table.
    */
  def writePriorOutput(spark: SparkSession, dir: String): Unit = {
    val d = dims(spark, dir)
    val others = spark.read.parquet(s"$dir/other_refs")
    val week0 = PipelineRunner.SpeciesRun("human",
      GafReader.read(spark, s"$dir/human_week0.gaf.gz"), humanCfg(Gen.PrevTs))
    val rep = PipelineRunner.runAll(others, d, Seq(week0), REF_ISO,
      new java.sql.Timestamp(Gen.PrevTs.getTime - 600000L))
    try rep.finalTable.write.mode("overwrite").parquet(s"$dir/existing")
    finally rep.release()
  }

  /** Rows each species feeds the merge: `annotate` over inputs opened
    * on an independent path (the all-species file filtered by taxon
    * instead of the demux output).
    */
  def incomingRows(spark: SparkSession, in: Gen.Inputs): Seq[Long] = {
    val d = dims(spark, in.base)
    val existing = spark.read.parquet(in.existing)
    val runs = in.workload match {
      case "multispecies" =>
        val all = GafReader.taxonId(GafReader.read(spark, s"${in.dir}/all_species.gaf.gz"))
        def taxon(t: Int) = all.where(col("taxon_id") === t).drop("taxon_id")
        Seq(PipelineRunner.SpeciesRun("mouse", taxon(10090), mouseCfg(Gen.RunTs)),
          PipelineRunner.chinchillaRun(existing, d, REF_ISO, Gen.RunTs))
      case _ => speciesRuns(spark, in, "", d, existing, new Spans)
    }
    // one job for every species: the counts ride a tagged union
    val counts = runs.zipWithIndex.map { case (r, i) =>
      AnnotationPipeline.annotate(r.gaf, d, r.cfg).select(lit(i).as("_species"))
    }.reduce(_.unionByName(_)).groupBy("_species").count().collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    runs.indices.map(i => counts.getOrElse(i, 0L))
  }

  // ------------------------------------------------ stage-prefix pass
  /** One stage of the prefix pass: seconds to build its plan and to
    * fill it, rows out, and the listener totals of the fill.
    */
  final case class Step(name: String, buildS: Double, fillS: Double,
                        rows: Long, exec: Map[String, Double])

  /** Runs the public stage functions one prefix at a time, each
    * materialized, so every stage's rows and time are measured where
    * the work happens. Returns the steps and the incoming rows, which
    * must equal `annotate`'s count.
    */
  def prefixPass(spark: SparkSession, r: PipelineRunner.SpeciesRun,
                 d: Dimensions, existing: DataFrame, rec: Recorder,
                 cores: Int, spans: Spans): (Seq[Step], Long, Map[String, Long]) = {
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Snapshot.Snapped]
    val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
    def step(name: String)(build: => DataFrame): DataFrame = spans(s"prefix.$name") {
      val t0 = System.nanoTime()
      val df = build
      val t1 = System.nanoTime()
      Recorder.drain(spark.sparkContext); rec.reset()
      val s = Snapshot.materialize(df)
      val t2 = System.nanoTime()
      Recorder.drain(spark.sparkContext)
      snaps += s
      steps += Step(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, s.rows,
        rec.summary((t2 - t1) / 1000000L, cores))
      s.df
    }
    val cfg = r.cfg
    try {
      graft.Tuning.autoShuffle(spark, graft.Tuning.estimatedBytes(r.gaf))
      val s0 = step("filter_sources")(AnnotationPipeline.filterSources(r.gaf, cfg.sources))
      val s1 = step("qc_term_filters")(AnnotationPipeline.qcTermFilters(s0, d))
      val s2 = step("match_genes")(AnnotationPipeline.matchGenes(s1, d, cfg.speciesTypeKey))
      val s3 = step("build_annotations")(AnnotationPipeline.buildAnnotations(s2, d, cfg))
      val s4 = step("qc_and_enrich")(AnnotationPipeline.qcAndEnrich(s3, d, cfg))
      val s5 = step("consolidate")(Consolidator.consolidate(
        s4.drop("_row_id", "_row_id2", "_prio"),
        AnnotationPipeline.consolidationKey, "with_info", WITH_INFO_CAP))
      val s6 = step("annot_merge")(AnnotMerge.merge(s5, AnnotationPipeline.mergeKey,
        "xref_source", "notes", XREF_SOURCE_CAP, emitIdx = true))
      val identity = Map(
        "full_annot_key" -> lit(null).cast("long"),
        "created_date" -> lit(null).cast("timestamp"),
        "last_modified_date" -> lit(null).cast("timestamp"),
        "created_by" -> lit(cfg.createdBy),
        "last_modified_by" -> lit(cfg.createdBy))
      val incoming = s6.select(existing.columns.toSeq
        .map(c => identity.getOrElse(c, col(c)).as(c)): _*)
      step("merge_sink")(MergeSink.merge(existing, incoming, cfg.runTs,
        cfg.createdBy))
      val counts = Map(
        "overflow_rows" -> s6.filter(col("_frag_idx") >= 1).count(),
        "consolidate_groups" -> s5.groupBy(AnnotationPipeline.consolidationKey
          .map(col): _*).count().count())
      (steps.toSeq, s6.count(), counts)
    } finally snaps.foreach(_.release())
  }
}
