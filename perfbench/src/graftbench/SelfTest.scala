package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.Sessions
import graft.plans.GraftExtensions

/** Shows that every output check passes on the library's real result
  * and fails once that result is made wrong. Each corruption edits an
  * input the library reads after the truth was written, so the op's
  * output no longer matches the truth.
  *
  * Arguments: workload workDir (inputs already generated there).
  * Prints one line per case; exits 1 if any case went the wrong way.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(workload, workS) = args
    val work = Path.of(workS)
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors().toString)
      .withExtensions(new GraftExtensions)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    val tr = new Tracer(false)
    var bad = 0
    def run(label: String, wantOk: Boolean): Unit = {
      val w = Workload(workload, work)
      w.setup(spark, tr)
      val c = w.op(spark, 0, tr, traced = false)()
      val pass = c.ok == wantOk
      if (!pass) bad += 1
      println(s"${if (pass) "ok  " else "FAIL"} $workload $label: check ${if (c.ok) "passed" else "failed"} (${c.detail})")
    }
    def rewrite(p: Path)(f: Seq[String] => Seq[String]): Unit =
      Files.write(p, f(Files.readAllLines(p, UTF_8).asScala.toSeq).mkString("", "\n", "\n").getBytes(UTF_8))

    run("as generated", wantOk = true)
    workload match {
      case "vcf_load" =>
        // turn the first ALT-supported cell of the first batch into 0/0
        rewrite(work.resolve("batches/batch000.vcf")) { ls =>
          val i = ls.indexWhere(l => !l.startsWith("#") && l.split("\t").drop(9).exists(Gen.cellKept))
          val f = ls(i).split("\t")
          val j = (9 until f.length).find(k => Gen.cellKept(f(k))).get
          ls.updated(i, f.updated(j, "0/0:5,0:5").mkString("\t"))
        }
        run("one sample cell dropped", wantOk = false)
      case "variant_annotate" =>
        val fa = work.resolve("genome.fa")
        val original = Files.readAllBytes(fa)
        // complement chromosome 1: same overlaps, other amino acids
        rewrite(fa) { ls =>
          var inChr1 = false
          ls.map { l =>
            if (l.startsWith(">")) { inChr1 = l == ">chr1"; l }
            else if (inChr1) l.map { case 'A' => 'T'; case 'T' => 'A'; case 'C' => 'G'; case 'G' => 'C'; case o => o }
            else l
          }
        }
        run("chromosome 1 complemented", wantOk = false)
        Files.write(fa, original)
        // drop one transcript of chromosome 1 (its exons stay orphaned)
        rewrite(work.resolve("genes.gff3")) { ls =>
          val i = ls.indexWhere(l => l.startsWith("chr1\t") && l.split("\t")(2) == "mRNA")
          ls.patch(i, Nil, 1)
        }
        run("one transcript removed", wantOk = false)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
