package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.sql.Timestamp
import java.util.SplittableRandom
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.gaf.{Constants, Dims}

/** Seeded input generator: GAF 2.2 gzip files, the dimension tables as
  * parquet and seeded FULL_ANNOT rows. Every output is a pure function
  * of (workload, seed, scale); the program under test only ever sees the
  * written files.
  *
  * The GAF lines plant the reference's edge cases so every QC path runs
  * (`Planted` counts each one): Not4Curation terms, IPI on descendants of
  * GO:0003824, retired gene ids behind multi-hop history, `MGI:MGI:` ids,
  * `!` comments, short GAF 1.0 lines, WITH_INFO sets past 1700 characters
  * and xref groups past 4000 characters.
  */
object Gen {
  import Constants._

  val HumanRef = REF_ALL_SPECIES
  val MouseRef = REF_MGI
  val ManualRef = 1600115
  val OtherRefs: Seq[Int] = Seq(ManualRef, 1580654, 2290271, 1303377)

  /** run dates: last week's run, this week's run and its stale cutoff */
  val PrevTs: Timestamp = Timestamp.valueOf("2026-01-02 00:00:00")
  val RunTs: Timestamp = Timestamp.valueOf("2026-01-09 00:00:00")
  val Cutoff: Timestamp = Timestamp.valueOf("2026-01-08 23:50:00")
  val OldTs: Timestamp = Timestamp.valueOf("2025-06-01 00:00:00")

  final case class Sizes(humanGenes: Int, mouseGenes: Int, ratGenes: Int,
                         chinGenes: Int, terms: Int, allSpeciesLines: Int,
                         humanLines: Int, chinManual: Int,
                         otherRows: Int, staleIso: Int, withGroups: Int,
                         xrefGroups: Int)

  /** Input sizes at scale 1.0 (the benchmark's size); `warmup` is the
    * small single-species input every set-up runs.
    */
  def sizes(workload: String, scale: Double): Sizes = {
    def s(n: Int, min: Int = 1) = math.max(min, (n * scale).round.toInt)
    val base = Sizes(humanGenes = 8000, mouseGenes = 8000, ratGenes = 10000,
      chinGenes = 2000, terms = 4100, allSpeciesLines = 0, humanLines = 0,
      chinManual = 0, otherRows = 0, staleIso = 0,
      withGroups = s(6), xrefGroups = s(4))
    workload match {
      case "warmup" => base.copy(humanGenes = 400, mouseGenes = 400,
        ratGenes = 500, chinGenes = 100, humanLines = s(8000),
        otherRows = s(30000),
        withGroups = 1, xrefGroups = 1)
      case "weekly_rerun" => base.copy(humanLines = s(24000),
        otherRows = s(120000))
      case "multispecies" => base.copy(allSpeciesLines = s(20000),
        chinManual = s(2400), otherRows = s(20000), staleIso = s(100))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  /** Lines written per planted path (plus `lines`, the data-line total). */
  final class Planted {
    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def hit(path: String, n: Long = 1): Unit =
      counts(path) = counts.getOrElse(path, 0L) + n
    def shares: Map[String, Double] = {
      val total = counts.getOrElse("lines", 0L).max(1L).toDouble
      counts.iterator.filter(_._1 != "lines")
        .map { case (k, v) => k -> v / total }.toMap
    }
  }

  // ------------------------------------------------------------ genome
  final case class Genome(sz: Sizes) {
    def human(i: Int): Int = 1000000 + i
    def mouse(i: Int): Int = 2000000 + i
    def rat(i: Int): Int = 3000000 + i
    def chin(i: Int): Int = 4000000 + i
    def uniprot(i: Int): String = f"P$i%05d"
    def mouseUniprot(i: Int): String = f"M$i%05d"
    def retired(i: Int): Boolean = i % 40 == 0 && i + 1 < sz.humanGenes
    def term(k: Int): String = f"GO:$k%07d"
    val catalytic = 3824
    // descendants of GO:0003824: terms 3825..3999
    def isCatalyticDesc(k: Int): Boolean = k > catalytic && k < 4000
    def not4Curation(k: Int): Boolean = k % 97 == 0 && !isCatalyticDesc(k) &&
      k != catalytic
    def ratOrthologs(src: Int, salt: Int): Seq[Int] =
      if (src % 5 == 4) Nil
      else {
        val a = rat((src * salt) % sz.ratGenes)
        if (src % 9 == 0) Seq(a, rat((src * salt + 1) % sz.ratGenes)) else Seq(a)
      }
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
                    path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Dimension parquet files under `dir`. */
  def writeDims(spark: SparkSession, g: Genome, dir: String): Unit = {
    val sz = g.sz
    val rgdIds = ArrayBuffer.empty[Row]
    val genes = ArrayBuffer.empty[Row]
    val xdb = ArrayBuffer.empty[Row]
    val history = ArrayBuffer.empty[Row]
    val orth = ArrayBuffer.empty[Row]
    def gene(id: Int, sym: String, species: Int, status: String): Unit = {
      rgdIds += Row(id, GENES_OBJECT_KEY, status, species)
      genes += Row(id, sym, s"$sym full name", "protein-coding", species)
    }
    for (i <- 0 until sz.humanGenes) {
      val id = g.human(i)
      gene(id, s"HSYM$i", HUMAN, if (g.retired(i)) "RETIRED" else "ACTIVE")
      xdb += Row(id, XDB_UNIPROT, g.uniprot(i))
      xdb += Row(id, XDB_HGNC, s"HGNC:$i")
      if (i % 7 == 0) xdb += Row(id, XDB_UNIPROT_SECONDARY, f"Q$i%05d")
      if (i % 11 == 0) xdb += Row(id, XDB_UNIPROT, g.uniprot(i) + "-2")
      if (g.retired(i)) {
        // three hops: retired gene -> retired ghost -> withdrawn ghost
        // -> the next (active) gene
        val g1 = 1900000 + i
        val g2 = 1950000 + i
        rgdIds += Row(g1, GENES_OBJECT_KEY, "RETIRED", HUMAN)
        rgdIds += Row(g2, GENES_OBJECT_KEY, "WITHDRAWN", HUMAN)
        history += Row(id, g1)
        history += Row(g1, g2)
        history += Row(g2, g.human(i + 1))
      }
      g.ratOrthologs(i, 1).foreach(r => orth += Row(id, r))
    }
    for (i <- 0 until sz.mouseGenes) {
      val id = g.mouse(i)
      gene(id, s"MSYM$i", MOUSE, "ACTIVE")
      xdb += Row(id, XDB_MGD, s"MGI:${100000 + i}")
      xdb += Row(id, XDB_UNIPROT, g.mouseUniprot(i))
      g.ratOrthologs(i, 7).foreach(r => orth += Row(id, r))
    }
    for (i <- 0 until sz.ratGenes)
      gene(g.rat(i), s"RSYM$i", RAT, if (i % 53 == 52) "RETIRED" else "ACTIVE")
    for (i <- 0 until sz.chinGenes) {
      gene(g.chin(i), s"CSYM$i", CHINCHILLA, "ACTIVE")
      g.ratOrthologs(i, 13).foreach(r => orth += Row(g.chin(i), r))
    }

    val terms = ArrayBuffer.empty[Row]
    val syns = ArrayBuffer.empty[Row]
    val dag = ArrayBuffer.empty[Row]
    val rnd = new SplittableRandom(4242L)
    for (k <- 1 to sz.terms) {
      terms += Row(g.term(k), s"term $k", "GO", 0)
      if (g.not4Curation(k)) syns += Row(g.term(k), NOT4CURATION, "subset")
      if (k % 13 == 0) syns += Row(g.term(k), s"syn of $k", "exact")
      val parent =
        if (k == 1 || k == g.catalytic) 0
        else if (g.isCatalyticDesc(k)) g.catalytic + rnd.nextInt(k - g.catalytic)
        else if (k < g.catalytic) 1 + rnd.nextInt(k - 1)
        else 1 + rnd.nextInt(g.catalytic - 1)
      if (parent > 0) dag += Row(g.term(parent), g.term(k), "is_a")
      // a second parent (the closure is a DAG, not a tree)
      if (k % 17 == 0 && k > 2 && !g.isCatalyticDesc(k) && k < g.catalytic)
        dag += Row(g.term(1 + rnd.nextInt(k - 1)), g.term(k), "part_of")
    }

    write(spark, rgdIds.toSeq, Dims.rgdIds, s"$dir/rgd_ids")
    write(spark, genes.toSeq, Dims.genes, s"$dir/genes")
    write(spark, xdb.toSeq, Dims.rgdAccXdb, s"$dir/xdb")
    write(spark, history.toSeq, Dims.rgdIdHistory, s"$dir/history")
    write(spark, terms.toSeq, Dims.ontTerms, s"$dir/ont_terms")
    write(spark, syns.toSeq, Dims.ontSynonyms, s"$dir/ont_synonyms")
    write(spark, dag.toSeq, Dims.ontDag, s"$dir/ont_dag")
    write(spark, orth.toSeq, Dims.orthologs, s"$dir/orthologs")
  }

  // ------------------------------------------------------------ GAF lines
  private val evidences = Array("IDA", "IEA", "IEA", "IEA", "IMP", "IPI",
    "ISS", "TAS", "IGI", "IEP", "EXP", "IDA", "NAS", "ISS")
  private val qualifiers = Array("enables", "involved_in", "located_in",
    "part_of", "", "", "colocalizes_with", "NOT|enables", "contributes_to")
  private val aspects = Array("F", "P", "C")

  private def date(rnd: SplittableRandom): String =
    f"${2005 + rnd.nextInt(21)}%04d${1 + rnd.nextInt(12)}%02d${1 + rnd.nextInt(28)}%02d"

  /** One 17-column GAF line as its fields. */
  final case class Line(f: Array[String], path: String) {
    def render(short: Boolean): String =
      (if (short) f.take(15) else f).mkString("\t")
  }

  private def fields(db: String, id: String, sym: String, qual: String,
                     go: String, ref: String, ev: String, withInfo: String,
                     aspect: String, taxon: Int, date: String, by: String,
                     ext: String, gpfi: String, path: String): Line =
    Line(Array(db, id, sym, qual, go, ref, ev, withInfo, aspect,
      s"$sym protein", s"${sym}_SYN", "protein", s"taxon:$taxon", date, by,
      ext, gpfi), path)

  /** A random annotation line for a human (UniProtKB) gene, with its
    * planted path recorded.
    */
  private def humanLine(g: Genome, rnd: SplittableRandom): Line = {
    val sz = g.sz
    val i = rnd.nextInt(sz.humanGenes)
    var k = 1 + rnd.nextInt(sz.terms)
    while (g.not4Curation(k) || g.isCatalyticDesc(k)) k = 1 + rnd.nextInt(sz.terms)
    var ev = evidences(rnd.nextInt(evidences.length))
    var go = g.term(k)
    val roll = rnd.nextInt(1000)
    var path = "plain"
    var db = "UniProtKB"
    var id = g.uniprot(i)
    var gpfi = if (rnd.nextInt(12) == 0) s"UniProtKB:${g.uniprot(i)}-2" else ""
    if (roll < 20) {
      var n = 97 * (1 + rnd.nextInt(sz.terms / 97))
      while (!g.not4Curation(n)) n = 97 * (1 + rnd.nextInt(sz.terms / 97))
      go = g.term(n); path = "not4curation"
    }
    else if (roll < 35) {
      go = g.term(g.catalytic + 1 + rnd.nextInt(3999 - g.catalytic))
      ev = "IPI"; path = "ipi_catalytic"
    } else if (roll < 45) { go = f"GO:9${rnd.nextInt(999999)}%06d"; path = "unknown_term" }
    else if (roll < 75) {
      val r = 40 * rnd.nextInt(math.max(1, sz.humanGenes / 40 - 1))
      id = g.uniprot(r); path = "retired_history"
    } else if (roll < 95) {
      val s = 7 * rnd.nextInt(math.max(1, sz.humanGenes / 7)); id = f"Q$s%05d"
      path = "secondary_acc"
    } else if (roll < 110) {
      val s = 11 * rnd.nextInt(math.max(1, sz.humanGenes / 11))
      id = f"X$s%05d"; gpfi = s"UniProtKB:${g.uniprot(s)}-2"; path = "isoform_fallback"
    } else if (roll < 125) { db = "HGNC"; id = s"HGNC:$i"; path = "hgnc" }
    else if (roll < 140) { id = g.mouseUniprot(rnd.nextInt(sz.mouseGenes)); path = "wrong_species" }
    else if (roll < 155) { id = f"Z${rnd.nextInt(99999)}%05d"; path = "unmatched" }
    else if (roll < 170) { db = "ComplexPortal"; id = s"CPX-$i"; path = "source_filtered" }
    val withInfo = ev match {
      case "IPI" | "IGI" | "ISS" =>
        val a = s"UniProtKB:${g.uniprot(rnd.nextInt(sz.humanGenes))}"
        if (rnd.nextInt(4) == 0) a + "|" + s"UniProtKB:${g.uniprot(rnd.nextInt(sz.humanGenes))}" else a
      case "IEA" => f"InterPro:IPR${rnd.nextInt(30000)}%06d"
      case _ => ""
    }
    val ref = ev match {
      case "IEA" => f"GO_REF:${2 + rnd.nextInt(60)}%07d"
      case _ => if (rnd.nextInt(5) == 0)
          s"PMID:${1 + rnd.nextInt(400000)}|PMID:${1 + rnd.nextInt(400000)}"
        else s"PMID:${1 + rnd.nextInt(400000)}"
    }
    val ext = if (rnd.nextInt(10) == 0) s"part_of(${g.term(1 + rnd.nextInt(sz.terms))})" else ""
    val by = if (rnd.nextInt(3) == 0) "UniProtKB" else if (rnd.nextInt(2) == 0) "UniProt" else "GOC"
    fields(db, id, s"HSYM$i", qualifiers(rnd.nextInt(qualifiers.length)),
      go, ref, ev, withInfo, aspects(k % 3), 9606, date(rnd), by, ext, gpfi,
      path)
  }

  private def mouseLine(g: Genome, rnd: SplittableRandom): Line = {
    val i = rnd.nextInt(g.sz.mouseGenes)
    val k = {
      var k = 1 + rnd.nextInt(g.sz.terms)
      while (g.not4Curation(k) || g.isCatalyticDesc(k)) k = 1 + rnd.nextInt(g.sz.terms)
      k
    }
    val ev = evidences(rnd.nextInt(evidences.length))
    val doubled = rnd.nextInt(10) < 9
    val id = (if (doubled) "MGI:MGI:" else "MGI:") + (100000 + i)
    val withInfo = if (ev == "IPI") s"MGI:MGI:${100000 + rnd.nextInt(g.sz.mouseGenes)}" else ""
    fields("MGI", id, s"MSYM$i", qualifiers(rnd.nextInt(qualifiers.length)),
      g.term(k), s"MGI:MGI:${rnd.nextInt(900000)}|PMID:${1 + rnd.nextInt(400000)}",
      ev, withInfo, aspects(k % 3), 10090, date(rnd), "MGI", "", "",
      if (doubled) "mgi_mgi_id" else "mouse_plain")
  }

  private def otherTaxonLine(rnd: SplittableRandom, taxon: Int): Line = {
    val i = rnd.nextInt(50000)
    fields("UniProtKB", f"T$i%05d", s"T$taxon-$i", "enables",
      f"GO:${1 + rnd.nextInt(4000)}%07d", s"PMID:${rnd.nextInt(400000)}",
      "IEA", "", "F", taxon, date(rnd), "UniProt", "", "",
      if (taxon == 7955 || taxon == 559292) "taxon_dropped" else "taxon_unused")
  }

  /** Planted groups: lines sharing a consolidation key whose WITH_INFO
    * token union passes 1700 characters, and lines sharing a merge key
    * whose xref union passes 4000 characters.
    */
  private def plantedGroups(g: Genome, rnd: SplittableRandom): Seq[Line] = {
    val out = ArrayBuffer.empty[Line]
    for (grp <- 0 until g.sz.withGroups) {
      val i = 1 + 40 * grp + rnd.nextInt(30)
      val k = 1 + 3 * grp
      for (t <- 0 until 130) {
        out += fields("UniProtKB", g.uniprot(i), s"HSYM$i", "enables",
          g.term(k), s"PMID:${7000000 + grp}", "IGI",
          f"UniProtKB:W$grp%02d$t%04d", aspects(k % 3), 9606, "20200101",
          "UniProt", "", "", "with_info_over_1700")
      }
    }
    for (grp <- 0 until g.sz.xrefGroups) {
      val i = 2 + 40 * grp + rnd.nextInt(30)
      val k = 2 + 3 * grp
      for (t <- 0 until 320) {
        out += fields("UniProtKB", g.uniprot(i), s"HSYM$i", "involved_in",
          g.term(k), f"PMID:${grp + 1}%02d$t%06d", "IDA", "",
          aspects(k % 3), 9606, "20200101", "UniProt", "", "", "xref_over_4000")
      }
    }
    out.toSeq
  }

  /** Write `lines` as a gzip GAF with a header, comments sprinkled in
    * and a short (GAF 1.0, 15-column) share. Returns the data lines.
    */
  def writeGaf(path: String, lines: Iterator[Line], rnd: SplittableRandom,
               p: Planted): Long = {
    new java.io.File(path).getParentFile.mkdirs()
    val gz = new GZIPOutputStream(new FileOutputStream(path), 1 << 16) {
      `def`.setLevel(Deflater.BEST_SPEED)
    }
    val w = new BufferedWriter(new OutputStreamWriter(gz, "UTF-8"), 1 << 16)
    var n = 0L
    try {
      w.write("!gaf-version: 2.2\n!generated-by: perfbench\n!date-generated: 2026-01-01\n")
      p.hit("comment", 3)
      lines.foreach { l =>
        if (n % 5000 == 4999) { w.write(s"! block $n\n"); p.hit("comment") }
        val short = rnd.nextInt(100) == 0
        if (short) p.hit("gaf1_short")
        p.hit(l.path)
        w.write(l.render(short)); w.write('\n')
        n += 1
      }
    } finally w.close()
    p.hit("lines", n)
    n
  }

  private def shuffled[T](xs: ArrayBuffer[T], rnd: SplittableRandom): ArrayBuffer[T] = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
    xs
  }

  def humanLines(g: Genome, n: Int, rnd: SplittableRandom): ArrayBuffer[Line] = {
    val out = ArrayBuffer.empty[Line]
    out ++= plantedGroups(g, rnd)
    while (out.length < n) out += humanLine(g, rnd)
    shuffled(out, rnd)
  }

  // ------------------------------------------------------ FULL_ANNOT rows
  /** `n` rows of other references (manual curation of rat / mouse genes,
    * other pipelines), unique on MergeSink.uniqueKey by construction.
    */
  def otherRefRows(spark: SparkSession, g: Genome, n: Int, seed: Long,
                   firstKey: Long): DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    val refs = typedLit(OtherRefs)
    val termK = (pmod(h, lit(g.sz.terms.toLong)) + 1).cast("int")
    val ratGene = (pmod(h / 7, lit(g.sz.ratGenes.toLong)) + 3000000).cast("int")
    spark.range(n).select(
      (col("id") + firstKey).as("full_annot_key"),
      concat(lit("term "), termK).as("term"),
      ratGene.as("annotated_object_rgd_id"),
      lit(GENES_OBJECT_KEY).as("rgd_object_key"),
      lit("RGD").as("data_src"),
      concat(lit("RSYM"), ratGene - 3000000).as("object_symbol"),
      element_at(refs, (pmod(h / 11, lit(OtherRefs.size.toLong)) + 1).cast("int"))
        .as("ref_rgd_id"),
      element_at(typedLit(Seq("IDA", "IMP", "IEA", "TAS")),
        (pmod(h / 13, lit(4L)) + 1).cast("int")).as("evidence"),
      when(pmod(h / 17, lit(3L)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("RGD:"), pmod(h / 19, lit(900000L)))).as("with_info"),
      element_at(typedLit(aspects.toSeq), (termK % 3 + 1)).as("aspect"),
      lit("rat gene").as("object_name"),
      lit(null).cast("string").as("notes"),
      lit(null).cast("string").as("qualifier"),
      lit(OldTs).as("created_date"),
      lit(OldTs).as("last_modified_date"),
      format_string("GO:%07d", termK).as("term_acc"),
      when(pmod(h / 23, lit(4L)) === 0, lit(CREATED_BY)).otherwise(lit(67))
        .as("created_by"),
      lit(67).as("last_modified_by"),
      concat(lit("PMID:"), col("id")).as("xref_source"),
      lit(null).cast("string").as("annotation_extension"),
      lit(null).cast("string").as("gene_product_form_id"),
      lit(OldTs).as("original_created_date"))
  }

  /** Chinchilla manual rows (created_by 67, GO terms, active chinchilla
    * genes) and stale pipeline ISO rows on rat genes whose provenance no
    * species re-derives, so U5 deletes exactly those.
    */
  def chinAndStaleRows(spark: SparkSession, g: Genome, seed: Long,
                       firstKey: Long): DataFrame = {
    val sz = g.sz
    val h = xxhash64(col("id"), lit(seed))
    val chinIdx = pmod(h, lit(sz.chinGenes.toLong)).cast("int")
    val termK = (pmod(h / 3, lit(sz.terms.toLong)) + 1).cast("int")
    val manual = spark.range(sz.chinManual).select(
      (col("id") + firstKey).as("full_annot_key"),
      concat(lit("term "), termK).as("term"),
      (chinIdx + 4000000).as("annotated_object_rgd_id"),
      lit(GENES_OBJECT_KEY).as("rgd_object_key"),
      lit("RGD").as("data_src"),
      concat(lit("CSYM"), chinIdx).as("object_symbol"),
      lit(ManualRef).as("ref_rgd_id"),
      element_at(typedLit(Seq("IDA", "IMP", "IPI", "TAS", "EXP")),
        (pmod(h / 5, lit(5L)) + 1).cast("int")).as("evidence"),
      lit(null).cast("string").as("with_info"),
      element_at(typedLit(aspects.toSeq), (termK % 3 + 1)).as("aspect"),
      lit("chinchilla gene").as("object_name"),
      lit(null).cast("string").as("notes"),
      lit(null).cast("string").as("qualifier"),
      lit(OldTs).as("created_date"),
      lit(OldTs).as("last_modified_date"),
      format_string("GO:%07d", termK).as("term_acc"),
      // a curator outside the 67/192 pair S5 leaves out
      lit(63).as("created_by"),
      lit(63).as("last_modified_by"),
      concat(lit("PMID:"), col("id") + 9000000).as("xref_source"),
      lit(null).cast("string").as("annotation_extension"),
      lit(null).cast("string").as("gene_product_form_id"),
      lit(OldTs).as("original_created_date"))
    val stale = spark.range(sz.staleIso).select(
      (col("id") + firstKey + sz.chinManual).as("full_annot_key"),
      lit("term 5").as("term"),
      (pmod(h, lit(sz.ratGenes.toLong)).cast("int") + 3000000)
        .as("annotated_object_rgd_id"),
      lit(GENES_OBJECT_KEY).as("rgd_object_key"),
      lit("RGD").as("data_src"),
      lit("RSYM").as("object_symbol"),
      lit(REF_ISO).as("ref_rgd_id"),
      lit("ISO").as("evidence"),
      concat(lit("RGD:99"), col("id")).as("with_info"),
      lit("C").as("aspect"),
      lit("rat gene").as("object_name"),
      lit(null).cast("string").as("notes"),
      lit(null).cast("string").as("qualifier"),
      lit(OldTs).as("created_date"),
      lit(OldTs).as("last_modified_date"),
      lit("GO:0000005").as("term_acc"),
      lit(CREATED_BY).as("created_by"),
      lit(CREATED_BY).as("last_modified_by"),
      lit(null).cast("string").as("xref_source"),
      lit(null).cast("string").as("annotation_extension"),
      lit(null).cast("string").as("gene_product_form_id"),
      lit(OldTs).as("original_created_date"))
    manual.unionByName(stale)
  }

  /** The stale ISO rows U5 must delete: the seeded ones on ACTIVE rat
    * genes (rat ids 3M+i with i % 53 == 52 are retired and outside the
    * U5 scope).
    */
  def expectedStaleIso(existing: DataFrame, rgdIds: DataFrame): Long =
    existing.filter(col("ref_rgd_id") === REF_ISO &&
        col("created_by") === CREATED_BY &&
        col("last_modified_date") < lit(Cutoff))
      .join(rgdIds.filter(col("species_type_key") === RAT &&
          col("object_status") === "ACTIVE"),
        col("annotated_object_rgd_id") === col("rgd_id"), "left_semi")
      .count()

  // --------------------------------------------------------- per workload
  /** Files written for one workload input set. */
  final case class Written(lines: Map[String, Long], planted: Map[String, Double])

  /** Where a workload's inputs live: `base` holds what every seed shares
    * (the dimension tables; for the weekly re-run also last week's file,
    * the rows of other references and last week's output), `dir` what
    * the seed makes.
    */
  final case class Inputs(dir: String, base: String, workload: String) {
    def existing: String =
      if (workload == "weekly_rerun") s"$base/existing" else s"$dir/existing"
  }

  private val BaseSeed = 20260102L

  private def week0(g: Genome): ArrayBuffer[Line] =
    humanLines(g, g.sz.humanLines, new SplittableRandom(BaseSeed))

  /** The seed-independent part of a workload's inputs. */
  def writeBase(spark: SparkSession, workload: String, scale: Double,
                base: String): Unit = {
    val g = Genome(sizes(workload, scale))
    writeDims(spark, g, s"$base/dims")
    if (workload == "weekly_rerun") {
      val rnd = new SplittableRandom(BaseSeed + 1)
      writeGaf(s"$base/human_week0.gaf.gz", week0(g).iterator, rnd, new Planted)
      otherRefRows(spark, g, g.sz.otherRows, BaseSeed, firstKey = 1L)
        .write.mode("overwrite").parquet(s"$base/other_refs")
    }
  }

  /** The inputs the seed makes. */
  def writeSeeded(spark: SparkSession, workload: String, seed: Long,
                  scale: Double, dir: String): Written = {
    val sz = sizes(workload, scale)
    val g = Genome(sz)
    val rnd = new SplittableRandom(seed * 1000003L + workload.hashCode)
    val p = new Planted
    val lines = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    workload match {
      case "warmup" =>
        lines("human.gaf.gz") = writeGaf(s"$dir/human.gaf.gz",
          humanLines(g, sz.humanLines, rnd).iterator, rnd, p)
        // rows to keep, so the warm-up merge joins and keys a real table
        otherRefRows(spark, g, sz.otherRows, seed, firstKey = 1L)
          .write.mode("overwrite").parquet(s"$dir/existing")
      case "weekly_rerun" =>
        // drift: ~3% removed, ~4% changed in updatable fields, ~3% added
        val week1 = ArrayBuffer.empty[Line]
        week0(g).foreach { l =>
          val r = rnd.nextInt(100)
          if (r < 3) p.hit("drift_removed")
          else if (r < 7) {
            val f = l.f.clone()
            f(13) = date(rnd)
            if (r == 6) f(15) = s"occurs_in(${g.term(1 + rnd.nextInt(sz.terms))})"
            week1 += Line(f, l.path); p.hit("drift_changed")
          } else week1 += l
        }
        val added = (sz.humanLines * 0.03).toInt
        for (_ <- 0 until added) { week1 += humanLine(g, rnd); p.hit("drift_added") }
        lines("human_week1.gaf.gz") = writeGaf(s"$dir/human_week1.gaf.gz",
          shuffled(week1, rnd).iterator, rnd, p)
      case "multispecies" =>
        // one all-species file: 50% mouse, then human, dog and pig (kept
        // by the demux, not run) and taxa the demux drops
        val n = sz.allSpeciesLines
        val all = humanLines(g, (n * 0.2).toInt, rnd)
        while (all.length < (n * 0.7).toInt) all += mouseLine(g, rnd)
        val others = Seq(9615 -> 0.12, 9823 -> 0.08, 7955 -> 0.06, 559292 -> 0.04)
        for ((taxon, share) <- others; _ <- 0 until (n * share).toInt)
          all += otherTaxonLine(rnd, taxon)
        lines("all_species.gaf.gz") = writeGaf(s"$dir/all_species.gaf.gz",
          shuffled(all, rnd).iterator, rnd, p)
        otherRefRows(spark, g, sz.otherRows, seed, firstKey = 1L)
          .unionByName(chinAndStaleRows(spark, g, seed, firstKey = sz.otherRows + 1L))
          .coalesce(2).write.mode("overwrite").parquet(s"$dir/existing")
    }
    Written(lines.toMap, p.shares)
  }
}
