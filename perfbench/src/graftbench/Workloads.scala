package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{TranscriptAnnotator, VariantMerge, VariantPipeline, VcfParser}
import graft.sources.{Gff3, PackedGenome}

/** Outcome of one op's output check, made after the op's timer stops. */
final case class Check(ok: Boolean, detail: String, layer: Map[String, Double] = Map.empty)

/** One workload: a closed loop of ops, each writing its whole result.
  * `op` runs the library calls and returns the output check; with
  * `traced` each layer's output is forced in turn under its own span. */
trait Workload {
  def name: String
  /** Loads the reference data a user loads once per session. */
  def setup(spark: SparkSession, tr: Tracer): Unit
  /** The op index set-up runs once as warm-up; its input is never timed. */
  def warmupOp: Int
  /** Untimed ops run after set-up, before the timed loop (see Main). */
  def settleOps: Int
  def hasOp(i: Int): Boolean
  /** Input records op `i` consumes (VCF data lines or variants). */
  def records(i: Int): Long
  def op(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): () => Check
  /** End-of-run check over state the ops built up; None when there is none. */
  def finalCheck(spark: SparkSession): Option[Check] = None
}

object Workload {
  def apply(name: String, work: Path): Workload = name match {
    case "vcf_load" => new VcfLoad(work)
    case "variant_annotate" => new VariantAnnotate(work)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def lines(p: Path): Seq[Array[String]] = {
    val s = scala.io.Source.fromFile(p.toFile, "UTF-8")
    try s.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toList finally s.close()
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }
}

/** Forces each traced layer's output into memory, so the next layer's
  * span covers only its own work. */
final class Forced {
  private val held = ArrayBuffer.empty[DataFrame]
  def apply(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY); held += p; Workload.noop(p); p
  }
  def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }
}

/** Incremental variant loading into a parquet store (see README). */
final class VcfLoad(work: Path) extends Workload {
  import Workload._
  val name = "vcf_load"
  private val truth = lines(work.resolve("truth/batches.tsv")).map(a =>
    a(0) -> Gen.BatchTruth(a(0), a(1).toInt, a(2).toLong, a(3).toLong, a(4).toLong, a(5).toLong)).toMap
  private val batches = truth.keys.filter(_ != "warmup").toSeq.sorted
  private val storeTruth = lines(work.resolve("truth/store.tsv"))
  private val genders = storeTruth.tail.map(a => a(0) -> a(1)).toMap
  private val store = work.resolve("store")
  private val storeVariants = store.resolve("variants").toString
  private val storeDetail = store.resolve("sample_detail").toString
  private val key = Seq("chr", "pos", "end_pos", "ref_nuc", "var_nuc", "variant_type")
  private var inserted = 0L
  private var storeBytes = 0L

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    deleteTree(store)
    copyTree(work.resolve("store_pristine"), store)
    inserted = storeTruth.head(0).toLong
    tr("sources.store_open")(spark.read.parquet(storeVariants).schema)
    storeBytes = dirBytes(store)
  }
  val warmupOp: Int = -1
  val settleOps = 6
  def hasOp(i: Int): Boolean = i < batches.length
  private def batch(i: Int) = if (i < 0) "warmup" else batches(i)
  def records(i: Int): Long = truth(batch(i)).lines

  def op(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): () => Check = {
    val b = batch(i)
    val path = work.resolve(s"batches/$b.vcf").toString
    val obsM = new Observation(s"merge_$i"); val obsD = new Observation(s"detail_$i")
    def variants(scored: DataFrame) =
      scored.select((key.map(col) :+ col("dbsnp_class")): _*).distinct()
    def classify(scored: DataFrame) = VariantMerge.classify(
      variants(scored), spark.read.parquet(storeVariants), key, "variant_id")
    def write(merged: DataFrame, scored: DataFrame): Unit = {
      merged.observe(obsM,
          count(when(col("merge_action") === "insert", 1)).as("inserts"),
          count(when(col("merge_action") === "already_in_rgd", 1)).as("present"))
        .filter(col("merge_action") === "insert")
        .select((key.map(col) ++ Seq(col("dbsnp_class"),
          xxhash64(key.map(col): _*).as("variant_id"))): _*)
        .write.mode("append").parquet(storeVariants)
      scored.select("strain", "chr", "pos", "ref_nuc", "var_nuc",
          "zygosity_status", "zygosity_percent_read", "zygosity_possible_error",
          "zygosity_num_allele", "zygosity_ref_allele", "zygosity_in_pseudo",
          "variant_frequency", "read_depth", "quality_score")
        .observe(obsD, count(lit(1)).as("rows"))
        .write.mode("append").parquet(storeDetail)
    }
    if (!traced) {
      val scored = VariantPipeline.score(VcfParser.fromPath(spark, path), genders)
      write(classify(scored), scored)
    } else {
      val f = new Forced
      try {
        val cf2 = tr("operators.vcf_parse")(f(VcfParser.fromPath(spark, path)))
        val scored = tr("operators.score")(f(VariantPipeline.score(cf2, genders)))
        val merged = tr("operators.merge_classify")(f(classify(scored)))
        tr("operators.store_write")(write(merged, scored))
      } finally f.release()
    }
    () => {
      val t = truth(b)
      val m = obsM.get; val d = obsD.get
      val (ins, pres, det) = (m("inserts").asInstanceOf[Long], m("present").asInstanceOf[Long],
        d("rows").asInstanceOf[Long])
      inserted += t.inserts
      val now = dirBytes(store); val grown = now - storeBytes; storeBytes = now
      Check(ins == t.inserts && pres == t.present && det == t.detail,
        s"$b inserts $ins/${t.inserts} present $pres/${t.present} detail $det/${t.detail}",
        Map("store_bytes_per_input_byte" -> grown.toDouble / t.bytes))
    }
  }

  /** The store holds exactly the pre-loaded variants plus every insert. */
  override def finalCheck(spark: SparkSession): Option[Check] = {
    val expected = inserted
    val n = spark.read.parquet(storeVariants).count()
    Some(Check(n == expected, s"store rows $n/$expected"))
  }
}

/** Read-only transcript annotation, one chromosome per op (see README). */
final class VariantAnnotate(work: Path) extends Workload {
  import Workload._
  val name = "variant_annotate"
  private val chrTruth = lines(work.resolve("truth/chromosomes.tsv"))
    .map(a => a(0) -> (a(1).toLong, a(2).toLong))
  private val sample: Map[String, Seq[String]] = lines(work.resolve("truth/aa_sample.tsv"))
    .groupBy(_(0)).map { case (c, rows) => c -> rows.map(_(1)).sorted }
  private var genome: PackedGenome.Packed = _
  private var models: Gff3.ModelTables = _

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    genome = tr("sources.fasta_load")(
      PackedGenome.fromLines(spark, spark.read.textFile(work.resolve("genome.fa").toString)))
    models = tr("sources.gff3_models") {
      val m = Gff3.modelTables(spark.read.textFile(work.resolve("genes.gff3").toString))
      val held = Gff3.ModelTables(m.genes.persist(StorageLevel.MEMORY_ONLY),
        m.transcripts.persist(StorageLevel.MEMORY_ONLY), m.features.persist(StorageLevel.MEMORY_ONLY))
      Seq(held.genes, held.transcripts, held.features).foreach(noop)
      held
    }
  }
  val warmupOp: Int = 0
  /** One op per chromosome, so the timed loop starts on the first one. */
  def settleOps: Int = chrTruth.length
  def hasOp(i: Int): Boolean = true
  private def chr(i: Int) = chrTruth(i % chrTruth.length)._1
  def records(i: Int): Long = chrTruth(i % chrTruth.length)._2._1

  def op(spark: SparkSession, i: Int, tr: Tracer, traced: Boolean): () => Check = {
    val c = chr(i)
    val want = sample.getOrElse(c, Nil)
    val obs = new Observation(s"annotate_$i")
    val vars = spark.read.parquet(work.resolve("variants").toString)
      .filter(col("chr") === c)
      .select("var_id", "chr", "pos", "ref_nuc", "var_nuc")
    val ann = TranscriptAnnotator.annotate(vars, models.genes.filter(col("chr") === c),
      models.transcripts, models.features, genome).toDF()
    val ids = want.map(_.split(":")(0).toLong)
    val out = ann.observe(obs, count(lit(1)).as("rows"),
      collect_list(when(col("var_id").isin(ids: _*),
        concat_ws(":", col("var_id"), col("ref_aa"), col("var_aa")))).as("aa"))
    if (traced) tr("operators.annotate")(noop(out)) else noop(out)
    () => {
      val m = obs.get
      val rows = m("rows").asInstanceOf[Long]
      val aa = m("aa").asInstanceOf[scala.collection.Seq[String]].toSeq.sorted
      val overlaps = chrTruth(i % chrTruth.length)._2._2
      Check(rows == overlaps && aa == want,
        s"chr $c rows $rows/$overlaps aa ${aa.intersect(want).length}/${want.length}" +
          (if (aa.length != want.length) s" (${aa.length} called)" else ""),
        Map("operators.annotate_rows_out" -> rows.toDouble))
    }
  }
}
