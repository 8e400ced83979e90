package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generators. Every byte written is a function of (kind, seed):
  * the same seed always yields the same library, reads and corpus.
  *
  * Run in its own JVM before the measuring driver starts, so generation
  * never warms the classes that the driver's set-up time measures:
  * `Gen <kind> <seed> <outDir>` with kind `library` or `corpus`.
  */
object Gen {

  /** Shape of one synthetic genome library and its read sample. */
  final case class LibSpec(genera: Int, species: Int, genomeLen: Int,
      reads: Int, readLen: Int = 150, lanes: Int = 4)

  /** Library behind `classify_join`. */
  val Library = LibSpec(genera = 6, species = 3, genomeLen = 60000, reads = 20000)

  /** Corpus shape: originals plus planted exact / near copies and too-short
    * docs, all as shares of the originals. */
  final case class CorpusSpec(originals: Int, wordsPerDoc: Int, vocab: Int,
      exactShare: Double = 0.10, nearShare: Double = 0.10,
      shortShare: Double = 0.03, files: Int = 4)

  val Corpus = CorpusSpec(originals = 1000, wordsPerDoc = 240, vocab = 5000)

  // Taxon id scheme shared with the driver's truth checks.
  val Root = 1
  val Kingdom = 2
  def family(g: Int): Int = 10 + g % 4
  def genus(g: Int): Int = 100 + g
  /** Species `s` of genus `g`; `s == spec.species` is the held-out species,
    * present in the taxonomy but not in the library. */
  def species(g: Int, s: Int): Int = 1000 + 10 * g + s

  private val Bases = Array('A', 'C', 'G', 'T')

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8),
      1 << 16)
  }

  private def randomSeq(rng: SplittableRandom, n: Int): Array[Char] =
    Array.fill(n)(Bases(rng.nextInt(4)))

  /** Copy with each base substituted (to a different base) at `rate`. */
  private def mutate(rng: SplittableRandom, src: Array[Char],
      rate: Double): Array[Char] = {
    val out = src.clone()
    var i = 0
    while (i < out.length) {
      if (rng.nextDouble() < rate) {
        val b = Bases.indexOf(out(i))
        out(i) = Bases((b + 1 + rng.nextInt(3)) % 4)
      }
      i += 1
    }
    out
  }

  def taxonomy(dir: File, spec: LibSpec): Unit = {
    val nodes = writer(new File(dir, "nodes.dmp"))
    val names = writer(new File(dir, "names.dmp"))
    def node(t: Int, parent: Int, rank: String, name: String): Unit = {
      nodes.write(s"$t\t|\t$parent\t|\t$rank\t|\n")
      names.write(s"$t\t|\t$name\t|\t\t|\tscientific name\t|\n")
    }
    try {
      node(Root, Root, "no rank", "root")
      node(Kingdom, Root, "superkingdom", "Synthetica")
      for (f <- (0 until spec.genera).map(family).distinct)
        node(f, Kingdom, "family", s"Family$f")
      for (g <- 0 until spec.genera) {
        node(genus(g), family(g), "genus", s"Genus$g")
        for (s <- 0 to spec.species)
          node(species(g, s), genus(g), "species", s"Genus$g species$s")
      }
    } finally { nodes.close(); names.close() }
  }

  /** Library (one multi-line FASTA per genus), labels, taxonomy and a
    * truth-labelled FASTQ sample split into `lanes` files.
    *
    * Each species diverges 3% from its genus ancestor, so siblings share
    * minimizers and the LCA fold lifts those records to the genus. Reads:
    * 80% from indexed genomes (1% substitutions, some with a short N run),
    * 10% from the held-out species of an indexed genus (correct call: the
    * genus), 10% unrelated sequence (truth taxon 0). The truth taxon ends
    * each read title: `r<n>_t<taxon>`. */
  def library(out: File, spec: LibSpec, seed: Long): Unit = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + spec.hashCode)
    taxonomy(new File(out, "taxonomy"), spec)
    val genomes = Array.ofDim[Array[Char]](spec.genera, spec.species + 1)
    for (g <- 0 until spec.genera) {
      val ancestor = randomSeq(rng, spec.genomeLen)
      for (s <- 0 to spec.species) genomes(g)(s) = mutate(rng, ancestor, 0.03)
    }
    val labels = writer(new File(out, "seqid2taxid.map"))
    try for (g <- 0 until spec.genera) {
      val fa = writer(new File(out, f"library/genus$g%02d.fna"))
      try for (s <- 0 until spec.species) {
        val id = s"g${g}s$s"
        labels.write(s"$id\t${species(g, s)}\n")
        fa.write(s">$id synthetic genome\n")
        genomes(g)(s).grouped(80).foreach { line => fa.write(line); fa.write('\n') }
      } finally fa.close()
    } finally labels.close()

    val lanes = (0 until spec.lanes).map(l =>
      writer(new File(out, f"reads/lane$l%d.fastq")))
    val qual = "I" * spec.readLen
    try for (r <- 0 until spec.reads) {
      val kind = rng.nextDouble()
      val (seq, truth) =
        if (kind < 0.9) {
          val g = rng.nextInt(spec.genera)
          val s = if (kind < 0.8) rng.nextInt(spec.species) else spec.species
          val pos = rng.nextInt(spec.genomeLen - spec.readLen)
          val read = mutate(rng,
            java.util.Arrays.copyOfRange(genomes(g)(s), pos, pos + spec.readLen),
            0.01)
          if (rng.nextDouble() < 0.05) {
            val at = rng.nextInt(spec.readLen - 8)
            java.util.Arrays.fill(read, at, at + 1 + rng.nextInt(8), 'N')
          }
          (read, species(g, s))
        } else (randomSeq(rng, spec.readLen), 0)
      val w = lanes(r % spec.lanes)
      w.write(s"@r${r}_t$truth\n"); w.write(seq); w.write(s"\n+\n$qual\n")
    } finally lanes.foreach(_.close())
  }

  /** Zipf-vocabulary corpus written as `files` parquet files of
    * (doc_id, text), plus `truth.tsv`: `doc_id \t role \t source_id` with
    * role original | exact | near | short. Copies always get larger ids than
    * their source, so keep-lowest-id dedup must drop exactly the copies. */
  def corpus(out: File, spec: CorpusSpec, seed: Long): Unit = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + spec.hashCode)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val vocab = Array.fill(spec.vocab)(
      Array.fill(3 + rng.nextInt(7))(letters(rng.nextInt(26))).mkString)
    val cdf = {
      val w = Array.tabulate(spec.vocab)(i => 1.0 / math.pow(i + 1, 1.1))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, spec.vocab - 1))
    }
    def doc(words: Int): Array[String] = Array.fill(words)(word())

    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    val originals = Array.tabulate(spec.originals) { i =>
      doc(spec.wordsPerDoc - 40 + rng.nextInt(81))
    }
    originals.zipWithIndex.foreach { case (d, i) =>
      docs += ((i.toLong, d.mkString(" "), "original", i.toLong)) }
    var next = spec.originals.toLong
    for (_ <- 0 until (spec.originals * spec.exactShare).toInt) {
      val src = rng.nextInt(spec.originals)
      docs += ((next, originals(src).mkString(" "), "exact", src.toLong)); next += 1
    }
    for (_ <- 0 until (spec.originals * spec.nearShare).toInt) {
      val src = rng.nextInt(spec.originals)
      val rate = 0.005 + 0.015 * rng.nextDouble()
      val copy = originals(src).map(w => if (rng.nextDouble() < rate) word() else w)
      docs += ((next, copy.mkString(" "), "near", src.toLong)); next += 1
    }
    for (_ <- 0 until (spec.originals * spec.shortShare).toInt) {
      docs += ((next, doc(1 + rng.nextInt(4)).mkString(" "), "short", -1L)); next += 1
    }
    // file order is shuffled so ids do not follow file position
    val shuffled = docs.toArray
    for (i <- shuffled.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    writeDocsParquet(new File(out, "docs"), shuffled.map(d => (d._1, d._2)),
      spec.files)
    val truth = writer(new File(out, "truth.tsv"))
    try docs.foreach { case (id, _, role, src) => truth.write(s"$id\t$role\t$src\n") }
    finally truth.close()
  }

  private def writeDocsParquet(dir: File, docs: Array[(Long, String)],
      files: Int): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 doc_id; required binary text (UTF8); }")
    val factory = new SimpleGroupFactory(schema)
    dir.mkdirs()
    val conf = new org.apache.hadoop.conf.Configuration()
    for (f <- 0 until files) {
      val path = new org.apache.hadoop.fs.Path(
        new File(dir, f"part-$f%05d.parquet").getAbsolutePath)
      val w = ExampleParquetWriter.builder(path).withConf(conf)
        .withType(schema).build()
      try docs.indices.filter(_ % files == f).foreach { i =>
        w.write(factory.newGroup().append("doc_id", docs(i)._1)
          .append("text", docs(i)._2))
      } finally w.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(kind, seedArg, outArg) = args
    val seed = seedArg.toLong
    val out = new File(outArg)
    kind match {
      case "library" => library(out, Library, seed)
      case "corpus" => corpus(out, Corpus, seed)
      case other => sys.error(s"unknown input kind: $other")
    }
  }
}
