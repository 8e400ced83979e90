package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.util.Random

/** End-to-end CLI: build an index from FASTA + labels + taxonomy dumps,
  * run a multi-threshold classify sweep, and compare against ground truth
  * (the reference tool's command surface driven exactly as a user would). */
class CliSpec extends AnyFunSuite with SparkSessionTestWrapper {

  val rng = new Random(11)
  def dna(n: Int): String = Array.fill(n)("ACGT"(rng.nextInt(4))).mkString

  def write(p: Path, content: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  test("CLI: build -> classify -c sweep -> compare") {
    spark // init the shared session first so Main.session getOrCreate reuses it
    val dir = Files.createTempDirectory("graft-cli")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))

    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    val idx = dir.resolve("idx").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--s", "7", "--p", "4",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    assert(Files.exists(java.nio.file.Paths.get(idx, "_index.properties")))

    // reads: substrings of known genomes, sample id + truth taxon in title
    val fqSb = new StringBuilder
    val truthSb = new StringBuilder
    for (i <- 0 until 40) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      val title = s"S${i % 2}R$i"
      fqSb.append(s"@$title\n${g.substring(s, s + 150)}\n+\n")
        .append("I" * 150).append('\n')
      truthSb.append(s"$title\t$t\n")
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    write(dir.resolve("truth.tsv"), truthSb.toString)

    val out = dir.resolve("out").toString
    Main.main(Array("classify", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--c", "0.0,0.9", "--min-hit-groups", "1",
      "--sample-regex", "(S\\d)R",
      "--output", out))
    // per-threshold output dirs, partitioned by extracted sample
    for (c <- Seq("0.0", "0.9"); s <- Seq("S0", "S1"))
      assert(Files.exists(java.nio.file.Paths.get(s"$out/c$c", s"sample=$s")),
        s"missing $out/c$c/sample=$s")
    // per-sample kreports were written for each threshold
    assert(Files.exists(java.nio.file.Paths.get(s"$out/c0.0_reports",
      "S0.kreport.txt")))

    // compare: read back one threshold's PARTITIONED output root (the
    // documented flow — partition discovery appends a `sample` column that
    // readKrakenOutput must ignore) vs truth at species rank
    Main.main(Array("compare",
      "--taxonomy", dir.resolve("tax").toString,
      "--classified", s"$out/c0.0",
      "--truth", dir.resolve("truth.tsv").toString,
      "--rank", "species",
      "--output", dir.resolve("cmp").toString))
    val cmpFiles = Files.list(dir.resolve("cmp")).toArray.map(_.toString)
    assert(cmpFiles.exists(_.contains("part-")))
    // clean reads from distinct random genomes: every read classifies TP,
    // and BOTH samples came through the partitioned read (40 reads total)
    val cats = cmpFiles.filter(_.endsWith(".csv"))
      .flatMap(f => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(f))).asScala)
    assert(cats.length == 40)
    assert(cats.forall(_.endsWith("\tTP")))
    // the sweep wrote REAL hit-detail strings (column 5 non-empty), not the
    // detail-free internal sweep representation
    val krakenLines = Files.list(java.nio.file.Paths.get(s"$out/c0.0/sample=S0"))
      .toArray.map(_.toString).filter(_.endsWith(".gz"))
      .flatMap { f =>
        val in = new java.util.zip.GZIPInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(f)))
        try scala.io.Source.fromInputStream(in).getLines().toVector
        finally in.close()
      }
    assert(krakenLines.nonEmpty)
    assert(krakenLines.forall(_.split("\t", -1)(4).nonEmpty))

    // the sweep above auto-selected the in-memory path (small stamped
    // index); re-run with the bucketed join forced and pin per-read
    // equality of both thresholds' outputs
    val outJ = dir.resolve("outj").toString
    Main.main(Array("classify", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--c", "0.0,0.9", "--min-hit-groups", "1",
      "--sample-regex", "(S\\d)R", "--in-memory", "false",
      "--output", outJ))
    for (c <- Seq("0.0", "0.9")) {
      def taxa(p: String) = index.MappingComparison.readKrakenOutput(spark, p)
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(taxa(s"$out/c$c") == taxa(s"$outJ/c$c"), s"c=$c")
    }
  }

  test("CLI: wide (m=33) salted build -> classify2 -> bracken") {
    spark
    val dir = Files.createTempDirectory("graft-cli-wide")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))

    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    val idx = dir.resolve("idx").toString
    // -s 3: spaced seed across the two-long key words, honored end to end
    // (classify below reopens the index and must reproduce the same spacing)
    Main.main(Array("build", "--k", "35", "--m", "33", "--p", "4", "--salt", "3",
      "--s", "3",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    val wideParams = graft.index.IndexParams.read(spark, idx)
    assert(wideParams.m == 33 && wideParams.spaces == 3)

    val fqSb = new StringBuilder
    val fq2Sb = new StringBuilder
    for (i <- 0 until 30) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      val s2 = rng.nextInt(g.length - 150)
      fqSb.append(s"@wr$i/1\n${g.substring(s, s + 150)}\n+\n")
        .append("I" * 150).append('\n')
      fq2Sb.append(s"@wr$i/2\n${g.substring(s2, s2 + 150)}\n+\n")
        .append("I" * 150).append('\n')
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    write(dir.resolve("reads2.fastq"), fq2Sb.toString)

    // paired-end classify over the wide index (mate-border protocol via CLI)
    val outP = dir.resolve("outp").toString
    Main.main(Array("classify", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--reads2", dir.resolve("reads2.fastq").toString,
      "--min-hit-groups", "1",
      "--output", outP))
    val pairedLines = Files.list(java.nio.file.Paths.get(outP, "sample=all"))
      .toArray.map(_.toString).filter(_.endsWith(".gz"))
      .flatMap { f =>
        val in = new java.util.zip.GZIPInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(f)))
        try scala.io.Source.fromInputStream(in).getLines().toVector
        finally in.close()
      }.filter(_.split("\t")(1) == "wr0")
    // the pair classifies as ONE record with a mate border in the hits
    assert(pairedLines.length == 1)
    assert(pairedLines.head.startsWith("C\t"))
    assert(pairedLines.head.contains("|:|"))

    // 2-step dynamic classification over the wide index
    val out2 = dir.resolve("out2").toString
    Main.main(Array("classify2", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--threshold", "10", "--bracken-read-len", "100",
      "--output", out2))
    assert(Files.list(java.nio.file.Paths.get(out2)).toArray.nonEmpty)
    // dynamic-index bracken weights were written alongside
    assert(Files.list(java.nio.file.Paths.get(out2 + "_weights")).toArray
      .map(_.toString).exists(_.endsWith(".csv")))

    // width-agnostic stats over the wide index
    val statsOut = dir.resolve("stats").toString
    Main.main(Array("stats", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", statsOut))
    assert(Files.list(java.nio.file.Paths.get(statsOut)).toArray
      .map(_.toString).exists(_.endsWith(".csv")))

    // bracken weights over the wide index, through the chunked checkpoint
    // path (--chunks: fault-tolerant resume via parquet appends)
    val outW = dir.resolve("weights").toString
    Main.main(Array("bracken", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--read-len", "100", "--chunks", "3",
      "--output", outW))
    // all chunk dirs committed -> a rerun would resume instantly
    for (c <- 0 until 3)
      assert(Files.exists(java.nio.file.Paths.get(s"${outW}_ckpt",
        s"chunk$c", "_SUCCESS")))
    val lines = Files.list(java.nio.file.Paths.get(outW)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(f => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(f))).asScala)
    assert(lines.nonEmpty)
    for (l <- lines) assert(l.matches("-?[0-9]+\t[0-9]+:[0-9]+:[0-9.]+( .*)?"), l)
  }

  test("CLI: classify2 --criterion reads honors --init-confidence on the " +
      "first pass only and writes the detected taxon set") {
    spark
    val dir = Files.createTempDirectory("graft-cli-c2")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")
    val idx = dir.resolve("idx").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--s", "7", "--p", "4",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    val fqSb = new StringBuilder
    for (i <- 0 until 30) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      fqSb.append(s"@cr$i\n${g.substring(s, s + 150)}\n+\n")
        .append("I" * 150).append('\n')
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)

    def taxonSet(out: String): Set[Int] = {
      val p = java.nio.file.Paths.get(out + "_taxonSet.txt")
      assert(Files.exists(p), s"missing $p")
      scala.jdk.CollectionConverters.ListHasAsScala(Files.readAllLines(p))
        .asScala.filter(_.nonEmpty).map(_.toInt).toSet
    }
    def classifiedCount(out: String): Int = {
      // close the Files.list stream (it holds a directory handle)
      val ls = Files.list(java.nio.file.Paths.get(out, "sample=all"))
      val files = try ls.toArray.map(_.toString) finally ls.close()
      files.filter(_.endsWith(".gz"))
        .map { f =>
          val in = new java.util.zip.GZIPInputStream(
            java.nio.file.Files.newInputStream(java.nio.file.Paths.get(f)))
          try scala.io.Source.fromInputStream(in).getLines()
            .count(_.startsWith("C\t"))
          finally in.close()
        }.sum
    }

    // reads criterion at a passable threshold: both species detected,
    // second pass classifies everything the static pass could
    val outA = dir.resolve("c2a").toString
    Main.main(Array("classify2", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--criterion", "reads", "--threshold", "3",
      "--init-confidence", "0.0", "--min-hit-groups", "1",
      "--output", outA))
    assert(taxonSet(outA) == Set(4, 5))
    assert(classifiedCount(outA) == 30)

    // chimeric reads (half random, half genome) classify with confidence
    // ~0.35 — above 0.0, below 0.9. With --init-confidence 0.9 the FIRST
    // pass starves (no evidence) even though the final -c stays 0.0:
    // nothing selected, nothing classified — pins the knob as
    // first-pass-only. The control below re-runs at init 0.0 and selects.
    val noisySb = new StringBuilder
    for (i <- 0 until 30) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 75)
      noisySb.append(s"@nr$i\n${dna(75)}${g.substring(s, s + 75)}\n+\n")
        .append("I" * 150).append('\n')
    }
    write(dir.resolve("noisy.fastq"), noisySb.toString)
    val outB = dir.resolve("c2b").toString
    Main.main(Array("classify2", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--reads", dir.resolve("noisy.fastq").toString,
      "--criterion", "reads", "--threshold", "1",
      "--init-confidence", "0.9", "--c", "0.0", "--min-hit-groups", "1",
      "--output", outB))
    assert(taxonSet(outB) == Set.empty[Int])
    assert(classifiedCount(outB) == 0)

    // control: same noisy reads, init 0.0 -> both species selected and the
    // chimeras classify in the second pass
    val outC = dir.resolve("c2c").toString
    Main.main(Array("classify2", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--reads", dir.resolve("noisy.fastq").toString,
      "--criterion", "reads", "--threshold", "3",
      "--init-confidence", "0.0", "--min-hit-groups", "1",
      "--output", outC))
    assert(taxonSet(outC) == Set(4, 5))
    assert(classifiedCount(outC) == 30)

    // unknown criterion fails loudly
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("classify2", "--index", idx,
        "--taxonomy", dir.resolve("tax").toString,
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("labels.tsv").toString,
        "--reads", dir.resolve("reads.fastq").toString,
        "--criterion", "bogus", "--output", dir.resolve("c2d").toString))
    }
    assert(e.getMessage.contains("criterion"))
  }

  test("CLI: extra-wide (m=96, three-long keys) build -> classify -> " +
    "stats --respace -> bracken, end to end through the sidecar dispatch") {
    spark
    val dir = Files.createTempDirectory("graft-cli-xwide")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    val idx = dir.resolve("idx").toString
    // -s 5: spaced seed across three key words; --salt exercises the
    // two-stage LCA fold at this width
    Main.main(Array("build", "--k", "104", "--m", "96", "--p", "4",
      "--salt", "2", "--s", "5",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    val params = graft.index.IndexParams.read(spark, idx)
    assert(params.m == 96 && params.spaces == 5)

    val fqSb = new StringBuilder
    for (i <- 0 until 30) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 200)
      fqSb.append(s"@xr${t}n$i\n${g.substring(s, s + 200)}\n+\n")
        .append("I" * 200).append('\n')
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    val out = dir.resolve("out").toString
    Main.main(Array("classify", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1", "--in-memory", "false",
      "--output", out))
    val classified = index.MappingComparison.readKrakenOutput(spark, out)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(classified.nonEmpty)
    // reads from genome t classify to t or an ancestor (never the sibling)
    for ((title, taxon) <- classified if taxon != 0) {
      val src = title.drop(2).takeWhile(_.isDigit).toInt
      assert(taxon == src || taxon == 2 || taxon == 1,
        s"$title -> $taxon")
    }
    // in-memory path agrees with the join path at this width
    val outM = dir.resolve("outm").toString
    Main.main(Array("classify", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1", "--in-memory", "true",
      "--output", outM))
    val viaMem = index.MappingComparison.readKrakenOutput(spark, outM)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaMem == classified)

    // width-agnostic stats with --respace (mask + re-fold over 3 words)
    val statsOut = dir.resolve("stats").toString
    Main.main(Array("stats", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--respace", "8",
      "--output", statsOut))
    assert(Files.list(java.nio.file.Paths.get(statsOut)).toArray
      .map(_.toString).exists(_.endsWith(".csv")))

    // bracken weights over the extra-wide index
    val outW = dir.resolve("weights").toString
    Main.main(Array("bracken", "--index", idx,
      "--taxonomy", dir.resolve("tax").toString,
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--read-len", "150",
      "--output", outW))
    val lines = Files.list(java.nio.file.Paths.get(outW)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(f => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(f))).asScala)
    assert(lines.nonEmpty)
  }

  test("CLI: self-contained index -> classify (no --taxonomy) -> report; " +
      "FASTA R2; classify2 --gold releases its caches") {
    spark
    val dir = Files.createTempDirectory("graft-cli-self")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))

    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    val idx = dir.resolve("idx").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    // build copied the taxonomy beside the index (reference Slacken behavior)
    assert(Files.exists(java.nio.file.Paths.get(idx, "taxonomy", "nodes.dmp")))
    assert(Files.exists(java.nio.file.Paths.get(idx, "taxonomy", "names.dmp")))

    // R1 FASTQ + R2 FASTA: mate files go through format dispatch
    val fqSb = new StringBuilder
    val faSb = new StringBuilder
    for (i <- 0 until 30) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s1 = rng.nextInt(g.length - 150)
      val s2 = rng.nextInt(g.length - 150)
      fqSb.append(s"@fr$i/1 x\n${g.substring(s1, s1 + 150)}\n+\n")
        .append("I" * 150).append('\n')
      faSb.append(s">fr$i/2 x\n${g.substring(s2, s2 + 150)}\n")
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    write(dir.resolve("reads2.fasta"), faSb.toString)

    // no --taxonomy flag anywhere below: everything reads <idx>/taxonomy
    val out = dir.resolve("out").toString
    // --in-memory false: force the bucketed-join path so the comparison
    // against the in-memory run below stays join-vs-broadcast
    Main.main(Array("classify", "--index", idx,
      "--reads", dir.resolve("reads.fastq").toString,
      "--reads2", dir.resolve("reads2.fasta").toString,
      "--min-hit-groups", "1", "--in-memory", "false",
      "--output", out))
    val pairedLines = Files.list(java.nio.file.Paths.get(out, "sample=all"))
      .toArray.map(_.toString).filter(_.endsWith(".gz"))
      .flatMap { f =>
        val in = new java.util.zip.GZIPInputStream(
          java.nio.file.Files.newInputStream(java.nio.file.Paths.get(f)))
        try scala.io.Source.fromInputStream(in).getLines().toVector
        finally in.close()
      }.filter(_.split("\t")(1) == "fr0")
    // the FASTA mate joined: one record, classified, with a mate border
    assert(pairedLines.length == 1)
    assert(pairedLines.head.startsWith("C\t"))
    assert(pairedLines.head.contains("|:|"))
    // both mates contribute to the length column (150 + 150)
    assert(pairedLines.head.split("\t")(3) == "300")

    // --in-memory: the zero-shuffle broadcast-table path emits identical
    // per-read classifications (paired-end included)
    val outIM = dir.resolve("outim").toString
    Main.main(Array("classify", "--index", idx,
      "--reads", dir.resolve("reads.fastq").toString,
      "--reads2", dir.resolve("reads2.fasta").toString,
      "--min-hit-groups", "1", "--in-memory",
      "--output", outIM))
    def taxaOf(p: String) = index.MappingComparison.readKrakenOutput(spark, p)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(taxaOf(outIM) == taxaOf(out))

    // report: re-render the kreport from the classified dir + index taxonomy
    val reportOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(reportOut)) {
      Main.main(Array("report", "--index", idx, "--classified", out))
    }
    val reportLines = reportOut.toString("UTF-8").linesIterator.toVector
    assert(reportLines.exists(_.contains("species four")))
    assert(reportLines.exists(_.contains("species five")))
    // clade counts: the root line accounts for all 30 classified-or-not reads
    val rootLine = reportLines.find(_.contains("\troot")).get
    assert(rootLine.split("\t")(1).toLong <= 30)

    // classify2 --gold: the listed taxa REPLACE the heuristic selection
    write(dir.resolve("gold.txt"), "4\n")
    val out2 = dir.resolve("out2").toString
    val goldStdout = new java.io.ByteArrayOutputStream()
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    Console.withOut(new java.io.PrintStream(goldStdout)) {
      Main.main(Array("classify2", "--index", idx,
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("labels.tsv").toString,
        "--reads", dir.resolve("reads.fastq").toString,
        "--gold", dir.resolve("gold.txt").toString,
        "--output", out2))
    }
    assert(goldStdout.toString("UTF-8").contains("selected 1 taxa"))
    // the CLI released the spans + dynamic-records caches (round-3 leak)
    val persistedAfter = spark.sparkContext.getPersistentRDDs.keySet
    assert((persistedAfter -- persistedBefore).isEmpty,
      s"classify2 leaked cached RDDs: ${persistedAfter -- persistedBefore}")
    // only genome-4 reads can classify against the gold sub-index
    val classified2 = index.MappingComparison.readKrakenOutput(spark, out2)
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(classified2.length == 30)
    for ((title, taxon) <- classified2 if taxon != 0)
      assert(taxon == 4, s"$title classified to $taxon outside the gold clade")
    assert(classified2.count(_._2 == 4) > 10)
    // gold mode writes NO taxon-set file (reference only persists the set
    // in the detection path — r16 advice)
    assert(!Files.exists(java.nio.file.Paths.get(out2 + "_taxonSet.txt")),
      "gold mode must not write _taxonSet.txt")

    // -o frequency: the demotion set persists beside the index and classify
    // reproduces the identical ordering (keys match -> reads classify TP)
    val idxF = dir.resolve("idxf").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4",
      "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "64",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idxF))
    val pf = index.IndexParams.read(spark, idxF)
    assert(pf.demoted.exists(_.length == 64))
    val outF = dir.resolve("outf").toString
    Main.main(Array("classify", "--index", idxF,
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1",
      "--output", outF))
    val classifiedF = index.MappingComparison.readKrakenOutput(spark, outF)
      .collect().map(r => r.getString(0) -> r.getInt(1))
    assert(classifiedF.length == 30)
    assert(classifiedF.count(_._2 != 0) > 25,
      "frequency-ordered index failed to classify the clean reads")

    // rebuild into the same output with the same derivation: the persisted
    // demotion set is reloaded (params sidecar matches) instead of
    // re-running the counting scan; the rebuilt index is unchanged
    val rebuildOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(rebuildOut)) {
      Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4",
        "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "64",
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("labels.tsv").toString,
        "--taxonomy", dir.resolve("tax").toString,
        "--output", idxF))
    }
    assert(rebuildOut.toString.contains("reusing persisted demotion set"),
      "rebuild did not reload the memoized demotion set")
    assert(index.IndexParams.read(spark, idxF).demoted.map(_.toSeq)
      == pf.demoted.map(_.toSeq))
    // a different derivation must NOT reuse it
    val idxF2 = dir.resolve("idxf2").toString
    val freshOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(freshOut)) {
      Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4",
        "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "32",
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("labels.tsv").toString,
        "--taxonomy", dir.resolve("tax").toString,
        "--output", idxF2))
    }
    assert(!freshOut.toString.contains("reusing persisted demotion set"))
    assert(index.IndexParams.read(spark, idxF2).demoted.exists(_.length == 32))

    // multi-sample classify2: --per-sample switches taxon selection to
    // per-sample — sample ma is species 4 plus ONE species-5 contaminant
    // read (below threshold), sample mb is pure species 5; the contaminant
    // must stay unclassified in ma even though species 5 dominates mb
    val msSb = new StringBuilder
    for (i <- 0 until 20) {
      val s4 = rng.nextInt(genomes(4).length - 150)
      msSb.append(s"@ma_r$i\n${genomes(4).substring(s4, s4 + 150)}\n+\n")
        .append("I" * 150).append('\n')
      val s5 = rng.nextInt(genomes(5).length - 150)
      msSb.append(s"@mb_r$i\n${genomes(5).substring(s5, s5 + 150)}\n+\n")
        .append("I" * 150).append('\n')
    }
    val sCont = rng.nextInt(genomes(5).length - 150)
    msSb.append(s"@ma_cont\n${genomes(5).substring(sCont, sCont + 150)}\n+\n")
      .append("I" * 150).append('\n')
    write(dir.resolve("msreads.fastq"), msSb.toString)
    val outMS = dir.resolve("outms").toString
    val msStdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(msStdout)) {
      Main.main(Array("classify2", "--index", idx,
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("labels.tsv").toString,
        "--reads", dir.resolve("msreads.fastq").toString,
        "--sample-regex", "^([^_]+)_", "--per-sample",
        // explicit criterion: the threshold is calibrated in distinct
        // minimizers (the CLI default is reference-aligned `reads`)
        "--criterion", "distinct", "--threshold", "70",
        "--output", outMS))
    }
    val msOut = msStdout.toString("UTF-8")
    assert(msOut.contains("sample ma: selected"))
    assert(msOut.contains("sample mb: selected"))
    val msRows = index.MappingComparison.readKrakenOutput(spark, outMS)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(msRows.size == 41)
    // per-sample partitions exist (writePerSampleOutput keyed by the regex)
    assert(Files.exists(java.nio.file.Paths.get(outMS, "sample=ma")))
    assert(Files.exists(java.nio.file.Paths.get(outMS, "sample=mb")))
    // and per-sample kreports, like classify --sample-regex
    val maReport = Files.readAllLines(
      java.nio.file.Paths.get(outMS + "_reports", "ma.kreport.txt"))
    assert(maReport.stream().anyMatch(_.contains("species four")))
    assert(Files.exists(
      java.nio.file.Paths.get(outMS + "_reports", "mb.kreport.txt")))
    // ma's own reads classify inside species 4's clade; mb's inside 5's
    assert(msRows.count { case (t, x) => t.startsWith("ma_r") && x == 4 } > 15)
    assert(msRows.count { case (t, x) => t.startsWith("mb_r") && x == 5 } > 15)
    // the contaminant read is NOT in ma's tailored index -> unclassified
    assert(msRows("ma_cont") == 0,
      "per-sample selection leaked species 5 into sample ma")

    // scan: per-sequence super-mer stats agree with the scanner directly
    // (the same surface tools/test_golden_kernels.py fuzzes from Python)
    val scanOut = dir.resolve("scan.tsv").toString
    Main.main(Array("scan", "--library", dir.resolve("lib.fasta").toString,
      "--k", "35", "--m", "31", "--s", "7", "--p", "4",
      "--output", scanOut))
    val scanRows = Files.readAllLines(java.nio.file.Paths.get(scanOut))
    assert(scanRows.size == 2)
    val sc = graft.index.IndexParams(k = 35, m = 31, spaces = 7).scanner
    for ((name, t) <- Seq("s4" -> 4, "s5" -> 5)) {
      val sms = sc.scan(genomes(t)).toVector
      val distinct = sms.map(_.minimizer).distinct
      val want = Seq(name, sms.size.toString, sms.map(_.kmers).sum.toString,
        distinct.size.toString,
        java.lang.Long.toUnsignedString(distinct.foldLeft(0L)(_ ^ _)))
      val got = scanRows.stream().filter(_.startsWith(name + "\t"))
        .findFirst().get().split("\t").toSeq
      assert(got == want, s"scan row for $name")
    }

    // scan --o frequency: the demotion-set derivation + demoted ordering
    // agree with FrequencyPriority driven directly (the surface the fuzz
    // harness's three *_freq configs drive from Python)
    val scanFOut = dir.resolve("scanf.tsv").toString
    Main.main(Array("scan", "--library", dir.resolve("lib.fasta").toString,
      "--k", "35", "--m", "31", "--s", "7", "--p", "4",
      "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "256",
      "--output", scanFOut))
    val scanFRows = Files.readAllLines(java.nio.file.Paths.get(scanFOut))
    assert(scanFRows.size == 2)
    val packed = { import spark.implicits._
      spark.createDataset(genomes.toSeq.map { case (t, g) =>
        (t, graft.kmers.Dna.pack2bit(g), g.length) }) }
    val demoted = graft.index.FrequencyOrdering.topCanonicalMers(
      packed, 31, fraction = 1.0, topN = 256)
    val scF = new graft.kmers.SupermerScanner(35,
      graft.kmers.FrequencyPriority(demoted,
        graft.kmers.SpacedSeedPriority(7, graft.kmers.RandomXorPriority(31))))
    for ((name, t) <- Seq("s4" -> 4, "s5" -> 5)) {
      val sms = scF.scan(genomes(t)).toVector
      val distinct = sms.map(_.minimizer).distinct
      val want = Seq(name, sms.size.toString, sms.map(_.kmers).sum.toString,
        distinct.size.toString,
        java.lang.Long.toUnsignedString(distinct.foldLeft(0L)(_ ^ _)))
      val got = scanFRows.stream().filter(_.startsWith(name + "\t"))
        .findFirst().get().split("\t").toSeq
      assert(got == want, s"frequency scan row for $name")
    }
  }

  test("CLI: respace / inspect / compareIndex / inputCheck") {
    spark
    val dir = Files.createTempDirectory("graft-cli-tools")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    val idx = dir.resolve("idx").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--s", "7", "--p", "4",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))

    // respace: new self-contained indexes at base_s10 and base_s12
    val base = dir.resolve("re").toString
    Main.main(Array("respace", "--index", idx, "--s", "10,12",
      "--output", base))
    for (s <- Seq(10, 12)) {
      val p = graft.index.IndexParams.read(spark, s"${base}_s$s")
      assert(p.spaces == s && p.m == 31)
      assert(Files.exists(java.nio.file.Paths.get(s"${base}_s$s",
        "taxonomy", "nodes.dmp")))
    }
    // a respaced index classifies through the standard path (sidecar spacing
    // drives span extraction, so keys match)
    val fqSb = new StringBuilder
    for (i <- 0 until 20) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      fqSb.append(s"@rr$i\n${g.substring(s, s + 150)}\n+\n")
        .append("I" * 150).append('\n')
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    val outR = dir.resolve("outr").toString
    Main.main(Array("classify", "--index", s"${base}_s10",
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1",
      "--output", outR))
    val classifiedR = index.MappingComparison.readKrakenOutput(spark, outR)
      .collect().map(r => r.getInt(1))
    assert(classifiedR.length == 20)
    assert(classifiedR.count(_ != 0) > 15, "respaced index classifies")

    // inspect: minimizer/genome/missing reports (labels with one foreign id)
    write(dir.resolve("labels2.tsv"), "s4\t4\ns5\t5\nsX\t9\n")
    val insp = dir.resolve("inspect").toString
    Main.main(Array("inspect", "--index", idx,
      "--labels", dir.resolve("labels2.tsv").toString,
      "--output", insp))
    val minRep = Files.readAllLines(
      java.nio.file.Paths.get(insp + "_min_report.txt"))
    assert(minRep.stream().anyMatch(_.contains("species four")))
    val genomeRep = Files.readAllLines(
      java.nio.file.Paths.get(insp + "_genome_report.txt"))
    // genome report counts 1 per taxon: root clade = 2 genomes
    assert(genomeRep.stream().anyMatch(l =>
      l.contains("\troot") && l.split("\t")(1) == "2"))
    assert(Files.exists(java.nio.file.Paths.get(insp + "_missing_report.txt")))

    // compareIndex: self-comparison puts every minimizer at steps=0
    val cmp = dir.resolve("idxcmp").toString
    Main.main(Array("compareIndex", "--index", idx, "--reference", idx,
      "--output", cmp))
    val cmpLines = Files.list(java.nio.file.Paths.get(cmp)).toArray
      .map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(f => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(f))).asScala)
    assert(cmpLines.length == 1 && cmpLines.head.startsWith("0\t"))
    // reference-semantics outputs: self-comparison -> every matched
    // minimizer at rank-steps 0, and an EMPTY taxaToRoot kreport (no taxon
    // moved into the root set)
    val migLines = Files.list(java.nio.file.Paths.get(cmp + "_migration"))
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
      .flatMap(f => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(f))).asScala)
    assert(migLines.length == 1 && migLines.head.startsWith("0\t"))
    assert(migLines.head.split("\t")(1) == cmpLines.head.split("\t")(1),
      "matched-only count must equal the full-outer steps=0 count on self-compare")
    val toRootRep = Files.readAllLines(
      java.nio.file.Paths.get(cmp + "_taxaToRoot_report.txt"))
    assert(!toRootRep.stream().anyMatch(_.contains("species")),
      "self-compare must not report root migration")

    // wide frequency-ordered build: the two-word demotion set persists and
    // classify reproduces the identical ordering end to end
    val idxWF = dir.resolve("idxwf").toString
    Main.main(Array("build", "--k", "45", "--m", "33", "--p", "4",
      "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "32",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idxWF))
    val pwf = graft.index.IndexParams.read(spark, idxWF)
    assert(pwf.m == 33 && pwf.demoted.exists(_.length == 64)) // 32 pairs
    val outWF = dir.resolve("outwf").toString
    // join path forced: this block is the wide bucketed-join e2e
    Main.main(Array("classify", "--index", idxWF,
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1", "--in-memory", "false",
      "--output", outWF))
    val classifiedWF = index.MappingComparison.readKrakenOutput(spark, outWF)
      .collect().map(r => r.getInt(1))
    assert(classifiedWF.length == 20)
    assert(classifiedWF.count(_ != 0) > 15, "wide frequency index classifies")

    // m=64 frequency-ordered build: the widest key has no spare bit for the
    // demote flag, so the scanner consults the demotion set at compare time;
    // the sidecar round-trip and classify must still reproduce the ordering
    val idxW64 = dir.resolve("idxw64").toString
    Main.main(Array("build", "--k", "70", "--m", "64", "--p", "4",
      "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "32",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idxW64))
    val pw64 = graft.index.IndexParams.read(spark, idxW64)
    assert(pw64.m == 64 && pw64.demoted.exists(_.length == 64)) // 32 pairs
    val outW64 = dir.resolve("outw64").toString
    Main.main(Array("classify", "--index", idxW64,
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1",
      "--output", outW64))
    val classifiedW64 = index.MappingComparison.readKrakenOutput(spark, outW64)
      .collect().map(r => r.getInt(1))
    assert(classifiedW64.length == 20)
    assert(classifiedW64.count(_ != 0) > 15, "m=64 frequency index classifies")

    // stats --library coverage check: complete genomes report no missing rows
    val statsCov = dir.resolve("statscov").toString
    val covOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(covOut)) {
      Main.main(Array("stats", "--index", idx,
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("labels.tsv").toString,
        "--output", statsCov))
    }
    assert(covOut.toString("UTF-8").contains("missing from the index"))

    // inputCheck: reports the foreign taxon and the implied tree size
    val checkOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(checkOut)) {
      Main.main(Array("inputCheck",
        "--taxonomy", dir.resolve("tax").toString,
        "--labels", dir.resolve("labels2.tsv").toString))
    }
    val checkStr = checkOut.toString("UTF-8")
    assert(checkStr.contains("1 unknown genomes"))
    assert(checkStr.contains("2 valid taxa"))
    assert(checkStr.contains("maximal implied tree size 4")) // 4,5,2,1
  }

  test("CLI: camiReport converts a CAMI mapping to a rank-filtered kreport") {
    spark
    val dir = Files.createTempDirectory("graft-cami")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")
    // CAMI2 mapping: paired mates as two rows; one genus-level read pair
    // (filtered at species rank) and one malformed line (dropped)
    write(dir.resolve("mapping.tsv"),
      "#anonymous_read_id\tgenome_id\ttax_id\tread_id\n" +
        "S0R0/1\tG4\t4\tN1/1\nS0R0/2\tG4\t4\tN1/2\n" +
        "S0R1/1\tG5\t5\tN2/1\nS0R1/2\tG5\t5\tN2/2\n" +
        "S0R2/1\tG4\t4\tN3/1\nS0R2/2\tG4\t4\tN3/2\n" +
        "S0R3/1\tGX\t2\tN4/1\nS0R3/2\tGX\t2\tN4/2\n" +
        "S0R4/1\tGB\tbogus\tN5/1\n" +
        "S0R5/1\tGT\n") // truncated line: padded with nulls, must not crash
    val out = dir.resolve("cami").toString
    Main.main(Array("camiReport",
      "--taxonomy", dir.resolve("tax").toString,
      "--mapping", dir.resolve("mapping.tsv").toString,
      "--rank", "species",
      "--output", out))
    // ids are a distributed text write (a dir of part files)
    val ids = Files.list(java.nio.file.Paths.get(out + ".ids_filtered"))
      .toArray.map(_.toString)
      .filter(f => f.contains("part-") && !f.endsWith(".crc"))
      .flatMap(f => scala.jdk.CollectionConverters
        .ListHasAsScala(Files.readAllLines(java.nio.file.Paths.get(f))).asScala)
    // genus-level pair S0R3 and the malformed rows are filtered out
    assert(ids.length == 6 && !ids.contains("S0R3/1"))
    val rep = Files.readAllLines(java.nio.file.Paths.get(out + ".kreport.txt"))
    // counts are read PAIRS: s4 = 2 pairs, s5 = 1 pair
    assert(rep.stream().anyMatch(l =>
      l.contains("species four") && l.split("\t")(2) == "2"))
    assert(rep.stream().anyMatch(l =>
      l.contains("species five") && l.split("\t")(2) == "1"))

    // display: min-percent + rank filters over the generated kreport
    val dispOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(dispOut)) {
      Main.main(Array("display", "--report", out + ".kreport.txt",
        "--rank", "species", "--min-percent", "50"))
    }
    val shown = dispOut.toString("UTF-8")
    assert(shown.contains("species four")) // 2/3 pairs = 66% >= 50
    assert(!shown.contains("species five")) // 33% < 50

    // a mistyped rank VALUE fails as loudly as a mistyped flag
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("camiReport",
        "--taxonomy", dir.resolve("tax").toString,
        "--mapping", dir.resolve("mapping.tsv").toString,
        "--rank", "speices",
        "--output", out))
    }
    assert(e.getMessage.contains("unknown rank"))
  }

  test("CLI: build --salt N is bit-identical to the unsalted build; " +
      "non-boolean flag values fail loudly") {
    spark
    val dir = Files.createTempDirectory("graft-cli-salt")
    // a low-complexity repeat concentrates records under few minimizers —
    // exactly the library shape --salt exists for
    val repeat = "ACGTT" * 120
    val genomes = Map(4 -> (dna(1500) + repeat + dna(1500)), 5 -> dna(3000))
    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    def build(out: String, extra: String*): Unit =
      Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4") ++ extra ++
        Array("--library", dir.resolve("lib.fasta").toString,
          "--labels", dir.resolve("labels.tsv").toString,
          "--taxonomy", dir.resolve("tax").toString,
          "--output", out))
    val idxU = dir.resolve("idxu").toString
    val idxS = dir.resolve("idxs").toString
    build(idxU)
    build(idxS, "--salt", "4")

    // the two-stage salted fold must produce the IDENTICAL index
    def rows(p: String) = graft.index.MinimizerIndex.loadRecords(spark, p, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val (ru, rs) = (rows(idxU), rows(idxS))
    assert(ru.nonEmpty && ru == rs, "salted CLI build diverged from unsalted")
    // the records sidecar stamp survives the salted path (classify auto-pick)
    val pu = graft.index.IndexParams.read(spark, idxU)
    val ps = graft.index.IndexParams.read(spark, idxS)
    assert(ps.records == pu.records && ps.records.exists(_ == ru.size))

    // a typo'd boolean value must error, not silently mean false
    val e = intercept[RuntimeException] {
      Main.main(Array("classify", "--index", idxS,
        "--reads", dir.resolve("none.fastq").toString,
        "--in-memory", "1", "--output", dir.resolve("x").toString))
    }
    assert(e.getMessage.contains("--in-memory takes true/false"))
  }

  test("CLI: build --library-fai reads the genome through the V2 connector") {
    spark
    val dir = Files.createTempDirectory("graft-cli-fai")
    val genomes = Map(4 -> dna(3000), 5 -> dna(3000))
    // fixed-width FASTA + a hand-computed .fai (offsets independent of the
    // reader under test); maxFragment default splits nothing at 3 kb
    val fa = new StringBuilder
    val fai = new StringBuilder
    for ((name, seq) <- Seq("s4" -> genomes(4), "s5" -> genomes(5))) {
      fa.append('>').append(name).append('\n')
      val offset = fa.length
      for (chunk <- seq.grouped(60)) fa.append(chunk).append('\n')
      fai.append(s"$name\t${seq.length}\t$offset\t60\t61\n")
    }
    write(dir.resolve("lib.fna"), fa.toString)
    write(dir.resolve("lib.fna.fai"), fai.toString)
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")
    val idx = dir.resolve("idx").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4",
      "--library-fai", dir.resolve("lib.fna").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    val fqSb = new StringBuilder
    for (i <- 0 until 20) {
      val t = if (i % 2 == 0) 4 else 5
      val g = genomes(t)
      val s = rng.nextInt(g.length - 150)
      fqSb.append(s"@fr$i\n${g.substring(s, s + 150)}\n+\n")
        .append("I" * 150).append('\n')
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    val out = dir.resolve("out").toString
    Main.main(Array("classify", "--index", idx,
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1",
      "--output", out))
    val got = index.MappingComparison.readKrakenOutput(spark, out)
      .collect().map(r => r.getInt(1))
    assert(got.length == 20)
    assert(got.count(_ != 0) > 15, "fai-built index classifies its own reads")
  }

  test("CLI: streamDedup runs the file-source -> fold -> file-sink topology " +
      "with a file-backed feedback queue") {
    spark
    val dir = Files.createTempDirectory("graft-cli-stream")
    val in = dir.resolve("in"); Files.createDirectories(in)
    val shared = "the quick brown fox jumps over the lazy dog again and again " * 4
    val other = "completely different content about spark physical plans " * 4
    def doc(id: Long, sec: Int, text: String): String =
      s"""{"doc_id":$id,"ts":"2026-01-01T10:00:${"%02d".format(sec)}","text":"$text"}"""
    // one file per trigger (maxFilesPerTrigger=1): trigger 1 seeds owners,
    // trigger 2 brings a near-dup (suppressed via state across triggers)
    // whose changed-tail bands it OWNS — dying while owning fresh buckets
    // is what produces ownership corrections into the feedback queue
    write(in.resolve("f1.json"), doc(1, 0, shared) + "\n" + doc(4, 1, other) + "\n")
    write(in.resolve("f2.json"),
      doc(2, 10, shared + "with a changed tail here ") + "\n" +
        doc(5, 11, "yet another unrelated document entirely " * 4) + "\n")
    // the file source orders files by modification time: two back-to-back
    // writes can land in the same timestamp tick, so pin the order the
    // scenario depends on (f1's owners must precede f2's near-dup)
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(in.resolve("f1.json"),
      java.nio.file.attribute.FileTime.fromMillis(now - 10000))
    Files.setLastModifiedTime(in.resolve("f2.json"),
      java.nio.file.attribute.FileTime.fromMillis(now))
    val out = dir.resolve("out").toString
    val fb = dir.resolve("fbqueue").toString
    Main.main(Array("streamDedup",
      "--input", in.toString, "--output", out, "--feedback", fb,
      "--watermark", "10 minutes", "--ttl-ms", "3600000"))
    val survivors = spark.read.json(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(1L, 4L, 5L),
      s"near-dup must be suppressed across file triggers: $survivors")
    // the dead near-dup owned its changed-tail buckets: corrections were
    // appended to the queue dir (and re-read by the same query's feedback
    // source without error before it drained)
    val corrections = spark.read.json(fb)
    assert(corrections.count() > 0, "expected ownership corrections in the queue")
    assert(corrections.columns.toSet == Set("bandKey", "newOwner", "ts"))
    // every correction here is a release (no surviving toucher of the
    // dead doc's fresh buckets in that batch)
    assert(corrections.select("newOwner").collect().forall(_.getLong(0) == -1L))
  }

  test("CLI: streamDedup --mode span suppresses duplicated grams across " +
      "file triggers") {
    spark
    val dir = Files.createTempDirectory("graft-cli-stream-span")
    val in = dir.resolve("in"); Files.createDirectories(in)
    val block = (1 to 12).map(i => s"blk$i").mkString(" ")
    def uniq(tag: String, k: Int): String =
      (1 to k).map(i => s"$tag$i").mkString(" ")
    def doc(id: Long, sec: Int, text: String): String =
      s"""{"doc_id":$id,"ts":"2026-01-01T10:00:${"%02d".format(sec)}","text":"$text"}"""
    // trigger 1 claims the block's grams (doc 1); trigger 2 re-sends the
    // block inside a different doc — its copy must be fully foreign
    write(in.resolve("f1.json"),
      doc(1, 0, uniq("a", 10) + " " + block + " " + uniq("b", 5)) + "\n")
    write(in.resolve("f2.json"),
      doc(2, 10, uniq("c", 4) + " " + block + " " + uniq("d", 8)) + "\n")
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(in.resolve("f1.json"),
      java.nio.file.attribute.FileTime.fromMillis(now - 10000))
    Files.setLastModifiedTime(in.resolve("f2.json"),
      java.nio.file.attribute.FileTime.fromMillis(now))
    val out = dir.resolve("out").toString
    Main.main(Array("streamDedup", "--mode", "span",
      "--input", in.toString, "--output", out,
      "--watermark", "10 minutes", "--ttl-ms", "3600000"))
    val spans = spark.read.json(out)
      .select("doc_id", "span_start", "span_end", "n_dup_grams")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // doc 2's block sits at words 5..16: foreign gram starts 5..9
    assert(spans == Set((2L, 5L, 16L, 5L)),
      s"cross-trigger span suppression failed: $spans")

    // a mistyped mode or a flag the topology ignores must fail loudly
    val badMode = intercept[IllegalArgumentException] {
      Main.main(Array("streamDedup", "--mode", "spans",
        "--input", in.toString, "--output", out))
    }
    assert(badMode.getMessage.contains("near/span"))
    val badFlag = intercept[RuntimeException] {
      Main.main(Array("streamDedup", "--mode", "span", "--bands", "8",
        "--input", in.toString, "--output", out))
    }
    assert(badFlag.getMessage.contains("--bands"))
  }

  test("CLI: a mistyped option fails loudly instead of silently defaulting") {
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("classify2", "--index", "x", "--treshold", "10",
        "--output", "y"))
    }
    assert(e.getMessage.contains("treshold"))
    assert(e.getMessage.contains("threshold")) // the known list names the fix
  }

  test("CLI: respace of a frequency-ordered index keeps demoted keys joinable") {
    spark
    val dir = Files.createTempDirectory("graft-cli-freqre")
    // genome 4 embeds a low-complexity repeat: its m-mers land in the
    // demotion set AND are chosen as minimizers inside the repeat (no
    // alternatives in-window), so the index stores DEMOTE-flagged keys —
    // the composition that regressed (spacing mask clearing the flag)
    val repeat = "ACGTT" * 150
    val genomes = Map(4 -> (dna(1200) + repeat + dna(1200)), 5 -> dna(2500))
    write(dir.resolve("lib.fasta"),
      s">s4\n${genomes(4)}\n>s5\n${genomes(5)}\n")
    write(dir.resolve("labels.tsv"), "s4\t4\ns5\t5\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tspecies four\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tspecies five\t|\t\t|\tscientific name\t|\n")

    val idxF = dir.resolve("idxf").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--p", "4",
      "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "256",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idxF))
    val baseF = dir.resolve("re").toString
    Main.main(Array("respace", "--index", idxF, "--s", "10",
      "--output", baseF))
    // the respaced sidecar still records the frequency ordering
    val pf = graft.index.IndexParams.read(spark, s"${baseF}_s10")
    assert(pf.spaces == 10 && pf.demoted.isDefined)

    // reads drawn INSIDE the repeat: every span minimizer is demoted, so
    // the join only works if the respaced keys kept the demote flag
    val fqSb = new StringBuilder
    for (i <- 0 until 10) {
      val s = 1210 + (i * 40) % 400
      fqSb.append(s"@rep$i\n${genomes(4).substring(s, s + 150)}\n+\n")
        .append("I" * 150).append('\n')
    }
    write(dir.resolve("reads.fastq"), fqSb.toString)
    val outF = dir.resolve("outf").toString
    Main.main(Array("classify", "--index", s"${baseF}_s10",
      "--reads", dir.resolve("reads.fastq").toString,
      "--min-hit-groups", "1",
      "--output", outF))
    val got = index.MappingComparison.readKrakenOutput(spark, outF)
      .collect().map(r => r.getInt(1))
    assert(got.length == 10)
    assert(got.count(_ == 4) >= 8,
      s"repeat-region reads lost their demoted keys after respace: ${got.toSeq}")

    // wide composition: respace of a wide frequency index keeps the
    // demotion set in the sidecar (it was silently dropped before)
    val idxWF = dir.resolve("idxwf").toString
    Main.main(Array("build", "--k", "45", "--m", "33", "--p", "4",
      "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "64",
      "--library", dir.resolve("lib.fasta").toString,
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idxWF))
    Main.main(Array("respace", "--index", idxWF, "--s", "5",
      "--output", dir.resolve("rew").toString))
    val pwf = graft.index.IndexParams.read(spark,
      dir.resolve("rew").toString + "_s5")
    assert(pwf.spaces == 5 && pwf.demoted.exists(_.length == 128))
  }

  test("CLI: curate runs quality gate -> exact dedup -> near-dup -> span strip") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate")
    val words = (0 until 400).map(i => s"tok$i")
    def prose(seed: Int, k: Int): Seq[String] = {
      val r = new Random(seed)
      Seq.fill(k)(words(r.nextInt(words.length)))
    }
    val block = prose(999, 15)
    // snapshot BEFORE curate: other suites sharing this session may hold
    // their own persisted RDDs — curate must only add none of its own
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq(
      (0L, prose(1, 40).mkString(" ")),                         // clean keeper
      (1L, (prose(2, 10) ++ block ++ prose(3, 12)).mkString(" ")), // block keeper
      (2L, (prose(4, 20) ++ block ++ prose(5, 9)).mkString(" ")),  // loses block
      (3L, prose(1, 40).mkString(" ")),                         // exact dup of 0
      (4L, "tiny"),                                             // fails quality gate
      (5L, prose(6, 35).mkString(" ")))
    spark.createDataset(docs).toDF("doc_id", "text")
      .write.parquet(dir.resolve("docs.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curate",
      "--docs", dir.resolve("docs.parquet").toString,
      "--output", out, "--p", "4",
      "--min-tokens", "5", "--near-dup-threshold", "0.9", "--span-n", "8"))
    val corpus = spark.read.parquet(out + "/corpus")
      .as[(Long, String)].collect().toMap
    // doc 3 (exact dup) and doc 4 (quality) are gone; 2 lost the block
    assert(corpus.keySet == Set(0L, 1L, 2L, 5L))
    assert(corpus(0L) == docs(0)._2)
    assert(corpus(1L) == docs(1)._2) // keeper copy of the block survives
    assert(corpus(2L) == (prose(4, 20) ++ prose(5, 9)).mkString(" "))
    val summary = scala.io.Source.fromFile(out + "/summary.tsv").getLines()
      .drop(1).map { l => val Array(a, b) = l.split("\t"); (a, b.toLong) }
      .toMap
    assert(summary("input") == 6L && summary("quality_gate") == 5L &&
      summary("exact_dedup") == 4L && summary("near_dup") == 4L)
    // the minhash pass ran, so the cap diagnostic rows are present — and a
    // 6-doc corpus cannot flood a 1024-cap bucket
    assert(summary("near_dup_capped_buckets") == 0L)
    assert(summary("near_dup_capped_signatures") == 0L)
    assert(summary("words_before_span_strip") -
      summary("words_after_span_strip") == 15L)
    // curate releases every stage cache before returning: a long-lived
    // driver composing this pipeline must not accumulate pinned blocks
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"curate leaked caches: $leaked")
  }

  test("CLI: curate surfaces bucket-cap drops in summary.tsv on a " +
      "boilerplate-heavy corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-capped")
    // 1400 docs sharing an 80-token boilerplate block, each with one
    // unique trailing token: pairwise jaccard 78/80 = 0.975, and per band
    // the modal bucket holds ~1400 * (1 - 1/79)^4 ≈ 1330 signatures —
    // past DEFAULT_MAX_BUCKET (1024), so the cap drops candidate mass and
    // the summary must SAY so (the r19 silent-recall-loss caveat).
    val block = (0 until 80).map(i => s"boiler$i").mkString(" ")
    val docs = (0L until 1400L).map(i => (i, s"$block uniq$i"))
    spark.createDataset(docs).toDF("doc_id", "text")
      .write.parquet(dir.resolve("docs.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curate",
      "--docs", dir.resolve("docs.parquet").toString,
      "--output", out, "--p", "4", "--min-tokens", "5",
      "--near-dup-threshold", "0.9", "--num-hashes", "64", "--bands", "16",
      "--span-n", "0"))
    val summary = scala.io.Source.fromFile(out + "/summary.tsv").getLines()
      .drop(1).map { l => val Array(a, b) = l.split("\t"); (a, b.toLong) }
      .toMap
    assert(summary("near_dup_capped_buckets") > 0L,
      s"expected capped buckets on the boilerplate corpus: $summary")
    // a capped bucket is by definition strictly larger than the cap
    val cap = graft.operators.Dedup.DEFAULT_MAX_BUCKET.toLong
    assert(summary("near_dup_capped_signatures") >
      summary("near_dup_capped_buckets") * cap,
      s"capped bucket members must exceed maxBucket ($cap) each: $summary")
  }

  test("CLI: curate --near-dup-mode hashed drops reshuffled near-copies " +
    "MinHash shingles miss, leaks no caches, and rejects a bad mode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-hashed")
    val words = (0 until 40).map(i => s"hw$i")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Seq(
      (0L, words.mkString(" ")),
      // a token-RESHUFFLED copy: bag-of-words identical (cosine 1.0) but
      // almost no 3-token shingle survives the permutation — the case the
      // hashed mode exists for
      (1L, words.reverse.mkString(" ")),
      (2L, (0 until 40).map(i => s"zz$i").mkString(" ")))
    spark.createDataset(docs).toDF("doc_id", "text")
      .write.parquet(dir.resolve("docs.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curate",
      "--docs", dir.resolve("docs.parquet").toString,
      "--output", out, "--p", "4", "--min-tokens", "5",
      "--near-dup-threshold", "0.9", "--near-dup-mode", "hashed",
      "--span-n", "0"))
    val corpus = spark.read.parquet(out + "/corpus")
      .as[(Long, String)].collect().toMap
    assert(corpus.keySet == Set(0L, 2L),
      s"hashed mode must drop the reshuffled copy: ${corpus.keySet}")
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    val deadline = System.currentTimeMillis() + 10000
    while (leaked().nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty, s"hashed curate leaked caches: ${leaked()}")
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("curate",
        "--docs", dir.resolve("docs.parquet").toString,
        "--output", dir.resolve("out2").toString, "--p", "4",
        "--near-dup-mode", "semantic"))
    }
    assert(e.getMessage.contains("--near-dup-mode"))
  }

  test("CLI: mergeIndex unions two builds exactly (record-identical to a " +
    "combined build) and rejects mismatched parameters") {
    spark
    val dir = Files.createTempDirectory("graft-cli-merge")
    val genomes = Map(4 -> dna(2000), 5 -> dna(2000), 6 -> dna(2000))
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n" +
        "6\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      (Seq(1 -> "root", 2 -> "genus g", 4 -> "s4", 5 -> "s5", 6 -> "s6")
        .map { case (t, n) => s"$t\t|\t$n\t|\t\t|\tscientific name\t|" }
        .mkString("", "\n", "\n")))
    def build(name: String, taxa: Seq[Int], out: String,
        m: String = "31"): Unit = {
      write(dir.resolve(s"$name.fasta"),
        taxa.map(t => s">s$t\n${genomes(t)}").mkString("", "\n", "\n"))
      write(dir.resolve(s"$name.tsv"),
        taxa.map(t => s"s$t\t$t").mkString("", "\n", "\n"))
      Main.main(Array("build", "--k", "35", "--m", m, "--p", "4",
        "--library", dir.resolve(s"$name.fasta").toString,
        "--labels", dir.resolve(s"$name.tsv").toString,
        "--taxonomy", dir.resolve("tax").toString,
        "--output", out))
    }
    val idxA = dir.resolve("idxA").toString
    val idxB = dir.resolve("idxB").toString
    val idxAll = dir.resolve("idxAll").toString
    build("libA", Seq(4, 5), idxA)
    build("libB", Seq(6), idxB)
    build("libAll", Seq(4, 5, 6), idxAll)
    val merged = dir.resolve("merged").toString
    Main.main(Array("mergeIndex", "--index", idxA, "--reference", idxB,
      "--p", "4", "--output", merged))
    def recs(path: String): Map[Long, Int] = {
      val p = graft.index.IndexParams.read(spark, path)
      graft.index.MinimizerIndex.loadRecords(spark, path, p.buckets)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(recs(merged) == recs(idxAll),
      "merged records diverge from the combined build")
    // the sidecar re-stamped the record count and the taxonomy traveled
    assert(graft.index.IndexParams.read(spark, merged).records
      .contains(recs(merged).size.toLong))
    assert(Files.exists(dir.resolve("merged/taxonomy/nodes.dmp")) ||
      Files.exists(java.nio.file.Paths.get(merged, "taxonomy", "nodes.dmp")))
    // mismatched m fails loudly
    val idxW = dir.resolve("idxW").toString
    build("libW", Seq(6), idxW, m = "33")
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("mergeIndex", "--index", idxA, "--reference", idxW,
        "--p", "4", "--output", dir.resolve("bad").toString))
    }
    assert(e.getMessage.contains("identical scan parameters"))
  }

  test("CLI: mergeIndex compares demotion sets as sets: a reordered " +
    "sidecar merges, a different set is refused") {
    spark
    val dir = Files.createTempDirectory("graft-cli-merge-freq")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      (Seq(1 -> "root", 2 -> "genus g", 4 -> "s4")
        .map { case (t, n) => s"$t\t|\t$n\t|\t\t|\tscientific name\t|" }
        .mkString("", "\n", "\n")))
    write(dir.resolve("lib.fasta"), s">s4\n${dna(2000)}\n")
    write(dir.resolve("lib.tsv"), "s4\t4\n")
    def build(out: String): Unit =
      Main.main(Array("build", "--k", "50", "--m", "40", "--p", "4",
        "--o", "frequency", "--freq-sample", "1.0", "--freq-top", "64",
        "--library", dir.resolve("lib.fasta").toString,
        "--labels", dir.resolve("lib.tsv").toString,
        "--taxonomy", dir.resolve("tax").toString,
        "--output", out))
    val idxA = dir.resolve("idxA").toString
    val idxB = dir.resolve("idxB").toString
    def merge(out: String): Unit =
      Main.main(Array("mergeIndex", "--index", idxA, "--reference", idxB,
        "--p", "4", "--output", dir.resolve(out).toString))
    build(idxA)
    build(idxB)
    val demoted = graft.index.IndexParams.read(spark, idxB).demoted.get
    assert(demoted.length == 2 * 64) // (id1, id2) per demoted m-mer
    // the same set with its entries listed in reverse order
    val reordered = demoted.grouped(2).toSeq.reverse.flatten.toArray
    assert(!reordered.sameElements(demoted))
    graft.index.FrequencyOrdering.write(spark, idxB, reordered)
    merge("merged")
    val bcTax = spark.sparkContext.broadcast(graft.taxa.Taxonomy.fromTuples(
      Seq((2, 1, "genus", "g"), (4, 2, "species", "s4"))))
    def recs(path: String): Set[(Long, Long, Int)] = {
      val p = graft.index.IndexParams.read(spark, path)
      new graft.index.WideMinimizerIndex(50, 40, bcTax)
        .loadRecords(spark, path, p.buckets).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    assert(recs(dir.resolve("merged").toString) == recs(idxA))
    // a different set is still refused: one entry dropped, or the same
    // longs regrouped into different (id1, id2) entries
    for (other <- Seq(reordered.drop(2),
        demoted.grouped(2).flatMap(_.reverse).toArray)) {
      graft.index.FrequencyOrdering.write(spark, idxB, other)
      val e = intercept[IllegalArgumentException](merge("bad"))
      assert(e.getMessage.contains("identical scan parameters"))
    }
  }

  test("CLI: curate with an explicit --near-dup-mode but no threshold " +
    "fails loudly instead of silently skipping the pass") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-nothr")
    spark.createDataset(Seq((0L, "a b c d e f"))).toDF("doc_id", "text")
      .write.parquet(dir.resolve("docs.parquet").toString)
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("curate",
        "--docs", dir.resolve("docs.parquet").toString,
        "--output", dir.resolve("out").toString, "--p", "4",
        "--near-dup-mode", "hashed"))
    }
    assert(e.getMessage.contains("--near-dup-threshold"))
  }

  test("CLI: dedup banding resolves planned-from-threshold by default, " +
    "explicit flags override, and contradictions fail loudly") {
    import graft.operators.Dedup
    // default: lshPlan(threshold, 0.99) — the r19 productization of the
    // r18 recall find (a user naming a threshold gets the recall target,
    // not the fixed 16x4's 0.644 boundary recall)
    assert(Main.resolveLshBanding(Map.empty, 0.5) == Dedup.lshPlan(0.5, 0.99))
    assert(Main.resolveLshBanding(Map("target-recall" -> "0.9"), 0.7) ==
      Dedup.lshPlan(0.7, 0.9))
    // the planned default meets its own target by the analytic curve
    assert(Main.resolveLshBanding(Map.empty, 0.5).candidateProb(0.5) >= 0.99)
    // explicit banding wins; a lone flag fills the other from legacy 64/16
    assert(Main.resolveLshBanding(
      Map("num-hashes" -> "32", "bands" -> "8"), 0.5) == Dedup.LshPlan(8, 4))
    assert(Main.resolveLshBanding(Map("bands" -> "32"), 0.5) ==
      Dedup.LshPlan(32, 2))
    assert(Main.resolveLshBanding(Map("num-hashes" -> "128"), 0.5) ==
      Dedup.LshPlan(16, 8))
    val conflict = intercept[IllegalArgumentException] {
      Main.resolveLshBanding(
        Map("target-recall" -> "0.99", "bands" -> "8"), 0.5)
    }
    assert(conflict.getMessage.contains("--target-recall"))
    val indivisible = intercept[IllegalArgumentException] {
      Main.resolveLshBanding(Map("num-hashes" -> "10", "bands" -> "4"), 0.5)
    }
    assert(indivisible.getMessage.contains("--num-hashes"))
  }

  test("CLI: curate plans near-dup banding from the threshold (recall " +
    "target catches a just-above-threshold near-copy) and gates LSH knobs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-planned")
    val words = (0 until 400).map(i => s"pk$i")
    def prose(seed: Int, k: Int): Seq[String] = {
      val r = new Random(seed)
      Seq.fill(k)(words(r.nextInt(words.length)))
    }
    val base = prose(21, 40)
    val docs = Seq(
      (0L, base.mkString(" ")),
      // one appended token: 38 of 39 shingles shared -> jaccard 38/39 =
      // 0.974, just above the 0.9 threshold — exactly the boundary class
      // the planned banding exists to catch reliably
      (1L, (base :+ "extraTok").mkString(" ")),
      (2L, prose(22, 40).mkString(" ")))
    spark.createDataset(docs).toDF("doc_id", "text")
      .write.parquet(dir.resolve("docs.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curate",
      "--docs", dir.resolve("docs.parquet").toString,
      "--output", out, "--p", "4", "--min-tokens", "5",
      "--near-dup-threshold", "0.9", "--target-recall", "0.99",
      "--span-n", "0"))
    val corpus = spark.read.parquet(out + "/corpus")
      .as[(Long, String)].collect().toMap
    assert(corpus.keySet == Set(0L, 2L),
      s"planned banding must drop the near-copy: ${corpus.keySet}")
    // explicit banding still honored end-to-end
    Main.main(Array("curate",
      "--docs", dir.resolve("docs.parquet").toString,
      "--output", dir.resolve("out2").toString, "--p", "4",
      "--min-tokens", "5", "--near-dup-threshold", "0.9",
      "--num-hashes", "64", "--bands", "16", "--span-n", "0"))
    assert(spark.read.parquet(dir.resolve("out2").toString + "/corpus")
      .count() >= 2)
    // LSH knobs with the pass off / in hashed mode fail loudly (silently
    // ignoring a recall target the user named would be a lie)
    val offErr = intercept[IllegalArgumentException] {
      Main.main(Array("curate",
        "--docs", dir.resolve("docs.parquet").toString,
        "--output", dir.resolve("out3").toString, "--p", "4",
        "--target-recall", "0.95"))
    }
    assert(offErr.getMessage.contains("no effect"))
    val hashedErr = intercept[IllegalArgumentException] {
      Main.main(Array("curate",
        "--docs", dir.resolve("docs.parquet").toString,
        "--output", dir.resolve("out4").toString, "--p", "4",
        "--near-dup-threshold", "0.9", "--near-dup-mode", "hashed",
        "--bands", "8"))
    }
    assert(hashedErr.getMessage.contains("no effect"))
  }

  test("CLI: streamDedup rejects --threshold with explicit banding and " +
    "--target-recall in span mode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-sdedup-plan")
    Files.createDirectories(dir.resolve("in"))
    val conflict = intercept[IllegalArgumentException] {
      Main.main(Array("streamDedup",
        "--input", dir.resolve("in").toString,
        "--output", dir.resolve("out").toString, "--p", "4",
        "--threshold", "0.8", "--bands", "16"))
    }
    assert(conflict.getMessage.contains("--threshold"))
    val spanErr = intercept[RuntimeException] {
      Main.main(Array("streamDedup", "--mode", "span",
        "--input", dir.resolve("in").toString,
        "--output", dir.resolve("out").toString, "--p", "4",
        "--target-recall", "0.99"))
    }
    assert(spanErr.getMessage.contains("target-recall"))
  }

  test("CLI: annBuild writes a probe-ready IVF-PQ index; annQuery answers " +
    "from it without the corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-ann")
    val rng = new scala.util.Random(13)
    val anchors = (0L until 40L).map(i =>
      (i, Array.fill(64)(rng.nextGaussian().toFloat)))
    val close = anchors.take(10).map { case (i, v) =>
      (i + 500L, v.map(x => x + 0.05f * rng.nextGaussian().toFloat))
    }
    spark.createDataset(anchors ++ close).toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb.parquet").toString)
    spark.createDataset(anchors.take(10)).toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("q.parquet").toString)
    val idx = dir.resolve("idx").toString
    Main.main(Array("annBuild",
      "--embeddings", dir.resolve("emb.parquet").toString,
      "--output", idx, "--p", "4", "--cells", "8", "--train", "64"))
    // the index carries cell-partitioned codes + the model sidecar
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(idx, "model.tsv")))
    val cellDirs = java.nio.file.Files.list(java.nio.file.Paths.get(idx,
      "vectors")).toArray.map(_.toString).count(_.contains("cell="))
    assert(cellDirs == 8, s"expected 8 cell partitions, saw $cellDirs")
    val out = dir.resolve("out").toString
    Main.main(Array("annQuery", "--index", idx,
      "--queries", dir.resolve("q.parquet").toString,
      "--k", "1", "--nprobe", "3", "--rerank", "8",
      "--output", out, "--p", "4"))
    val got = spark.read.parquet(out + "/knn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = (0L until 10L).count(q => got.get(q).contains(q + 500L))
    assert(hits >= 8, s"annQuery found just $hits of 10 planted neighbors")

    // annAppend: a batch of even-closer twins encoded with the STORED
    // model; a re-probe must surface them
    val closer = anchors.take(10).map { case (i, v) =>
      (i + 900L, v.map(x => x + 0.01f * rng.nextGaussian().toFloat))
    }
    spark.createDataset(closer).toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb2.parquet").toString)
    Main.main(Array("annAppend", "--index", idx,
      "--embeddings", dir.resolve("emb2.parquet").toString, "--p", "4"))
    val out2 = dir.resolve("out2").toString
    Main.main(Array("annQuery", "--index", idx,
      "--queries", dir.resolve("q.parquet").toString,
      "--k", "1", "--nprobe", "3", "--rerank", "8",
      "--output", out2, "--p", "4"))
    val got2 = spark.read.parquet(out2 + "/knn").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits2 = (0L until 10L).count(q => got2.get(q).contains(q + 900L))
    assert(hits2 >= 8, s"appended batch unreachable: $hits2 of 10")

    // annCheck after a DRIFTED append: 300 tightly-clustered far-away
    // vectors whose PQ codes collapse — the recall gauge must trip the
    // rebuild flag on its default latest-nid sample
    val drifted = (0 until 300).map { i =>
      ((2000 + i).toLong,
        Array.fill(64)(50.0f + 0.5f * rng.nextGaussian().toFloat))
    }
    spark.createDataset(drifted).toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb3.parquet").toString)
    Main.main(Array("annAppend", "--index", idx,
      "--embeddings", dir.resolve("emb3.parquet").toString, "--p", "4"))
    val checkOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(checkOut)) {
      Main.main(Array("annCheck", "--index", idx, "--sample", "20",
        "--k", "5", "--nprobe", "2", "--rerank", "8",
        "--threshold", "0.8", "--p", "4"))
    }
    val line = checkOut.toString
    assert(line.contains("recall@5"), s"no recall line in: $line")
    assert(line.contains("rebuild RECOMMENDED"),
      s"drifted append did not trip the CLI flag: $line")
  }

  test("CLI: curate survives a corpus the gates filter to nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-empty")
    spark.createDataset(Seq((0L, "a b"), (1L, "c d"))).toDF("doc_id", "text")
      .write.parquet(dir.resolve("docs.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curate",
      "--docs", dir.resolve("docs.parquet").toString,
      "--output", out, "--p", "4", "--min-tokens", "100"))
    assert(spark.read.parquet(out + "/corpus").count() == 0)
    val summary = scala.io.Source.fromFile(out + "/summary.tsv").getLines()
      .drop(1).map { l => val Array(a, b) = l.split("\t"); (a, b.toLong) }
      .toMap
    assert(summary("quality_gate") == 0L &&
      summary("words_after_span_strip") == 0L)
  }

  test("CLI: curateEmbeddings prunes outliers, dedups semantically, samples") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-emb")
    def rand(seed: Long): Array[Float] = {
      var s = graft.functions.TextAnalysis.mix64(seed)
      Array.tabulate(64) { _ =>
        s = graft.functions.TextAnalysis.mix64(s)
        (s >> 11).toFloat / (1L << 52).toFloat
      }
    }
    val anchors = Array(rand(11L), rand(22L), rand(33L))
    def nearCopy(a: Array[Float], seed: Long): Array[Float] = {
      val n = rand(seed)
      Array.tabulate(64)(d => a(d) + 0.01f * n(d))
    }
    // ids 0-2: three separated anchors (k-means init takes the smallest
    // ids); ids 3-62: twenty near-copies of each anchor (semantic dup
    // groups, min-id keepers 0/1/2); id 63: the anchor-0 direction scaled
    // 8x — same cosine as its group but FAR from the centroid, so stage 1
    // (mean + 2*sigma) must prune it before dedup ever sees it; ids
    // 100-119: mutually dissimilar randoms that survive dedup and give the
    // sample stage a real population
    val vecs: Seq[(Long, Array[Float])] =
      anchors.zipWithIndex.map { case (a, i) => (i.toLong, a) }.toSeq ++
        (0 until 60).map(i => ((3 + i).toLong, nearCopy(anchors(i / 20), 500L + i))) ++
        Seq((63L, anchors(0).map(_ * 8f))) ++
        (0 until 20).map(i => ((100 + i).toLong, rand(9000L + i)))
    spark.createDataset(vecs).toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb.parquet").toString)

    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val out = dir.resolve("out").toString
    Main.main(Array("curateEmbeddings",
      "--embeddings", dir.resolve("emb.parquet").toString,
      "--output", out, "--p", "4", "--k", "3"))
    val kept = spark.read.parquet(out + "/embeddings")
      .select($"vec_id").as[Long].collect().toSet
    val summary = scala.io.Source.fromFile(out + "/summary.tsv").getLines()
      .drop(1).map { l => val Array(a, b) = l.split("\t"); (a, b.toLong) }
      .toMap
    assert(summary("input") == 84L)
    // the scaled-out point is gone at the PRUNE stage (a dedup would also
    // remove it, so the stage count is the evidence), and the prune does
    // not decimate the corpus
    assert(summary("outlier_prune") < 84L && summary("outlier_prune") >= 75L,
      s"unexpected prune count: $summary")
    assert(!kept.contains(63L))
    // each near-copy group collapsed to its min-id keeper
    assert(Set(0L, 1L, 2L).subsetOf(kept))
    assert(kept.intersect((3L to 62L).toSet).isEmpty,
      s"near-copies survived dedup: ${kept.intersect((3L to 62L).toSet)}")
    assert(summary("semantic_dedup") == kept.size.toLong &&
      summary("sampled") == kept.size.toLong)
    // cache hygiene, as for curate
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    assert(leaked.isEmpty, s"curateEmbeddings leaked caches: $leaked")

    // temperature-balanced sample: a strict, cluster-spread subset
    val out2 = dir.resolve("out2").toString
    Main.main(Array("curateEmbeddings",
      "--embeddings", dir.resolve("emb.parquet").toString,
      "--output", out2, "--p", "4", "--k", "3", "--sample", "10"))
    val sampled = spark.read.parquet(out2 + "/embeddings")
      .select($"vec_id").as[Long].collect().toSet
    assert(sampled.subsetOf(kept), "sample must draw from the deduped set")
    assert(sampled.size >= 5 && sampled.size < kept.size,
      s"sample size ${sampled.size} of ${kept.size}")
  }

  test("CLI: curateEmbeddings rejects a malformed --sample before any " +
    "work, and a failing run leaks no caches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-emb-bad")
    spark.createDataset((0L until 4L).map(i => (i, Array.fill(64)(i / 4f))))
      .toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb.parquet").toString)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // malformed --sample: validated up front, NOTHING runs or caches
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("curateEmbeddings",
        "--embeddings", dir.resolve("emb.parquet").toString,
        "--output", dir.resolve("out").toString, "--p", "4",
        "--sample", "ten"))
    }
    assert(e.getMessage.contains("--sample"))
    // mid-pipeline failure (input missing the embedding column): the
    // try/finally must release every stage cache
    spark.range(4).select($"id".as("vec_id"), $"id".as("not_embedding"))
      .write.parquet(dir.resolve("bad.parquet").toString)
    intercept[Exception] {
      Main.main(Array("curateEmbeddings",
        "--embeddings", dir.resolve("bad.parquet").toString,
        "--output", dir.resolve("out2").toString, "--p", "4"))
    }
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore
    val deadline = System.currentTimeMillis() + 10000
    while (leaked().nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(leaked().isEmpty, s"failing curateEmbeddings leaked: ${leaked()}")
  }

  test("CLI: curateEmbeddings --train bounds quantizer training and " +
    "rejects a malformed value up front") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-emb-train")
    def rand(seed: Long): Array[Float] = {
      var s = graft.functions.TextAnalysis.mix64(seed)
      Array.tabulate(64) { _ =>
        s = graft.functions.TextAnalysis.mix64(s)
        (s >> 11).toFloat / (1L << 52).toFloat
      }
    }
    spark.createDataset((0L until 40L).map(i => (i, rand(i + 300L))))
      .toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb.parquet").toString)
    // --train below --k: the k clamp must ride the training bound (the
    // Lloyd's init draws from the sample), not crash the k-vector require
    val out = dir.resolve("out").toString
    Main.main(Array("curateEmbeddings",
      "--embeddings", dir.resolve("emb.parquet").toString,
      "--output", out, "--p", "4", "--k", "8", "--train", "6"))
    val kept = spark.read.parquet(out + "/embeddings")
      .select($"vec_id").as[Long].collect().toSet
    assert(kept.nonEmpty && kept.subsetOf((0L until 40L).toSet))
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("curateEmbeddings",
        "--embeddings", dir.resolve("emb.parquet").toString,
        "--output", dir.resolve("out2").toString, "--p", "4",
        "--train", "lots"))
    }
    assert(e.getMessage.contains("--train"))
  }

  test("CLI: curateEmbeddings --init scatter runs end to end and rejects " +
    "an unknown init up front") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-emb-init")
    def rand(seed: Long): Array[Float] = {
      var s = graft.functions.TextAnalysis.mix64(seed)
      Array.tabulate(64) { _ =>
        s = graft.functions.TextAnalysis.mix64(s)
        (s >> 11).toFloat / (1L << 52).toFloat
      }
    }
    spark.createDataset((0L until 40L).map(i => (i, rand(i + 900L))))
      .toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curateEmbeddings",
      "--embeddings", dir.resolve("emb.parquet").toString,
      "--output", out, "--p", "4", "--k", "4", "--init", "scatter"))
    val kept = spark.read.parquet(out + "/embeddings")
      .select($"vec_id").as[Long].collect().toSet
    assert(kept.nonEmpty && kept.subsetOf((0L until 40L).toSet))
    val e = intercept[IllegalArgumentException] {
      Main.main(Array("curateEmbeddings",
        "--embeddings", dir.resolve("emb.parquet").toString,
        "--output", dir.resolve("out2").toString, "--p", "4",
        "--init", "random"))
    }
    assert(e.getMessage.contains("--init"))
  }

  test("CLI: curateEmbeddings clamps k to a tiny surviving population") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-curate-emb-tiny")
    def rand(seed: Long): Array[Float] = {
      var s = graft.functions.TextAnalysis.mix64(seed)
      Array.tabulate(64) { _ =>
        s = graft.functions.TextAnalysis.mix64(s)
        (s >> 11).toFloat / (1L << 52).toFloat
      }
    }
    // 4 vectors, default k=8: every Lloyd's init (and the sample stage)
    // must clamp k to the population instead of failing its k-vector
    // requirement
    spark.createDataset((0L until 4L).map(i => (i, rand(i + 70L))))
      .toDF("vec_id", "embedding")
      .write.parquet(dir.resolve("emb.parquet").toString)
    val out = dir.resolve("out").toString
    Main.main(Array("curateEmbeddings",
      "--embeddings", dir.resolve("emb.parquet").toString,
      "--output", out, "--p", "4"))
    val kept = spark.read.parquet(out + "/embeddings")
      .select($"vec_id").as[Long].collect().toSet
    assert(kept.nonEmpty && kept.subsetOf(Set(0L, 1L, 2L, 3L)))
  }

  test("CLI: build + classify on the reference's real published data " +
    "(barley + cow-rumen library, Tara-ocean reads)") {
    spark
    val td = "/root/reference/testData"
    val dir = Files.createTempDirectory("graft-cli-realdata")

    // labels derived from the REAL fasta headers: barley chr1H -> 4, every
    // cow-rumen read accession -> 5 (9,845 of them)
    val rumenHeaders = sources.Sequences
      .fasta(spark, s"$td/SRR094926_10k.fasta").collect().map(_.header)
    assert(rumenHeaders.length === 9845)
    write(dir.resolve("labels.tsv"),
      "chr1H\t4\n" + rumenHeaders.map(h => s"$h\t5").mkString("\n") + "\n")
    write(dir.resolve("tax/nodes.dmp"),
      "1\t|\t1\t|\tno rank\t|\n2\t|\t1\t|\tgenus\t|\n" +
        "4\t|\t2\t|\tspecies\t|\n5\t|\t2\t|\tspecies\t|\n")
    write(dir.resolve("tax/names.dmp"),
      "1\t|\troot\t|\t\t|\tscientific name\t|\n" +
        "2\t|\tgenus g\t|\t\t|\tscientific name\t|\n" +
        "4\t|\tHordeum vulgare chr1H\t|\t\t|\tscientific name\t|\n" +
        "5\t|\tcow rumen metagenome\t|\t\t|\tscientific name\t|\n")

    // one library from BOTH real files via a glob (the text source expands
    // it; 9,846 sequences, 1.6 M bases, 18.8% N in the barley half)
    val idx = dir.resolve("idx").toString
    Main.main(Array("build", "--k", "35", "--m", "31", "--s", "7", "--p", "4",
      "--library", s"$td/*_10k.fasta",
      "--labels", dir.resolve("labels.tsv").toString,
      "--taxonomy", dir.resolve("tax").toString,
      "--output", idx))
    assert(Files.exists(java.nio.file.Paths.get(idx, "_index.properties")))

    // classify the 10k real ocean reads straight from the reference dir
    val out = dir.resolve("out").toString
    Main.main(Array("classify", "--index", idx,
      "--reads", s"$td/ERR599052_10k.fastq",
      "--min-hit-groups", "1",
      "--output", out))

    val rows = index.MappingComparison.readKrakenOutput(spark, out)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    // 8 of the 10,000 reads are < k and reference-faithfully absent
    assert(rows.length === 9992)
    assert(rows.map(_._1).distinct.length === 9992)
    val classified = rows.count(_._2 != 0)
    // unrelated ocean reads against a barley+rumen library: some hits
    // (rumen and ocean share microbial k-mer space), nowhere near the bulk
    assert(classified > 0 && classified < 5000,
      s"implausible classified count: $classified")
    assert(rows.forall { case (_, t) => Set(0, 1, 2, 4, 5).contains(t) })
  }

  test("session master precedence: -Dspark.master > SPARK_MASTER > local default") {
    // r17 footgun: the explicit .master(env-or-default) silently overrode
    // -Dspark.master and mis-timed manual runs. Standard precedence now:
    assert(Main.resolveMaster(Some("local[7]"), Some("local[9]"), "4")
      == "local[7]")
    assert(Main.resolveMaster(None, Some("local[9]"), "4") == "local[9]")
    assert(Main.resolveMaster(None, None, "4") == "local[4]")
    assert(Main.resolveMaster(None, None, "16") == "local[16]")
    // set-but-EMPTY sources fall through (SPARK_MASTER="" is how a shell
    // unsets-for-one-command; '' must not reach the master-URL parser)
    assert(Main.resolveMaster(Some(""), Some(" "), "4") == "local[4]")
    assert(Main.resolveMaster(Some(""), Some("local[9]"), "4") == "local[9]")
    // the live default path reads the real JVM property: set it, resolve,
    // restore — proves a manual `-Dspark.master=local[7]` run is honored
    val before = sys.props.get("spark.master")
    try {
      sys.props("spark.master") = "local[7]"
      assert(Main.resolveMaster() == "local[7]")
    } finally before match {
      case Some(v) => sys.props("spark.master") = v
      case None => sys.props -= "spark.master"
    }
  }
}
