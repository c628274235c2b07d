package perfbench

import java.io.{BufferedOutputStream, FileOutputStream, OutputStream, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.sources.WikiFixtures

/** Seeded synthetic `pages-meta-history` dump, written with the
  * engine's own fixture functions (`WikiFixtures.page` / `rev`):
  *
  *  - `plainShards` plain XML shards plus one bz2 shard of half the size;
  *  - namespace mix (mostly articles; talk, user, category pages) and
  *    ~8% redirect pages;
  *  - heavy-tailed revisions per page (Pareto, capped);
  *  - each revision is a small edit of its parent (a few words replaced,
  *    inserted or deleted, now and then a link or template), so diffs
  *    and the change-ratio sampler see realistic histories.
  */
object WikiCorpus {

  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "shi", "po",
    "ven", "dor", "al", "is", "um", "er", "an", "qu", "bel", "gar", "sen", "tro")
  private val Namespaces = Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 2, 4, 14)

  /** Writes the shards into `dir`. */
  def write(dir: String, plainShards: Int, bytesPerShard: Long, seed: Long): Unit = {
    new java.io.File(dir).mkdirs()
    val vocab = {
      val r = new SplittableRandom(seed ^ 0x5eed)
      Array.fill(4000)(Seq.fill(2 + r.nextInt(3))(Syllables(r.nextInt(Syllables.size))).mkString)
    }
    for (shard <- 0 to plainShards) {
      val bz2 = shard == plainShards
      val name = if (bz2) f"history-$shard%02d.xml.bz2" else f"history-$shard%02d.xml"
      val file = new FileOutputStream(s"$dir/$name")
      val out: OutputStream =
        if (bz2) new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(
          new BufferedOutputStream(file, 1 << 16), 1)
        else new BufferedOutputStream(file, 1 << 16)
      val w = new OutputStreamWriter(out, StandardCharsets.UTF_8)
      try writeShard(w, shard, if (bz2) bytesPerShard / 2 else bytesPerShard,
        new SplittableRandom(seed * 1000003L + shard), vocab)
      finally w.close()
    }
  }

  private def writeShard(w: Writer, shard: Int, bytes: Long, r: SplittableRandom,
                         vocab: Array[String]): Unit = {
    def word(): String = vocab((vocab.length * math.pow(r.nextDouble(), 3)).toInt)
    def link(): String = {
      val target = word().capitalize + " " + word()
      if (r.nextInt(3) == 0) s"[[$target]]" else s"[[$target|${word()} ${word()}]]"
    }
    def template(): String = s"{{cite ${word()}|title=${word()}|year=${1990 + r.nextInt(34)}}}"
    def token(): String = r.nextInt(40) match {
      case 0 => link()
      case 1 => template()
      case 2 => "&amp;"
      case _ => word()
    }
    val header = "<mediawiki xmlns=\"http://www.mediawiki.org/xml/export-0.11/\" version=\"0.11\">\n"
    w.write(header)
    var written = header.length.toLong
    var page = 0L
    var revId = 0L
    val t2005 = 1104537600L
    val span = 19L * 365 * 86400
    while (written < bytes) {
      val pageId = shard * 10000000L + page
      page += 1
      val ns = Namespaces(r.nextInt(Namespaces.size))
      val redirect = ns == 0 && r.nextInt(12) == 0
      val nRevs = if (redirect) 1 + r.nextInt(2)
        else math.min(100, (1.0 / math.pow(1.0 - r.nextDouble(), 1.0 / 1.3)).toInt)
      val words = scala.collection.mutable.ArrayBuffer.fill(60 + r.nextInt(300))(token())
      var ts = t2005 + (r.nextDouble() * span * 0.7).toLong
      val revs = (0 until nRevs).map { i =>
        if (!redirect && i > 0) (0 to r.nextInt(4)).foreach { _ =>
          val at = r.nextInt(words.size)
          r.nextInt(4) match {
            case 0 => words.insert(at, token())
            case 1 => if (words.size > 20) words.remove(at)
            case _ => words(at) = token()
          }
        }
        ts += 60 + (r.nextDouble() * r.nextDouble() * span * 0.3 / math.max(1, nRevs)).toLong
        revId += 1
        val text = if (redirect) s"#REDIRECT [[${word().capitalize}]]" else words.mkString(" ")
        val anon = r.nextInt(5) == 0
        WikiFixtures.rev(shard * 100000000L + revId,
          if (i == 0) None else Some(shard * 100000000L + revId - 1),
          java.time.Instant.ofEpochSecond(ts).toString,
          if (anon) s"10.0.${r.nextInt(256)}.${r.nextInt(256)}" else s"user${r.nextInt(5000)}",
          if (anon) None else Some(r.nextInt(5000).toLong),
          if (r.nextInt(3) == 0) "" else s"edit ${word()}", text, minor = r.nextInt(4) == 0)
      }
      val prefix = ns match {
        case 0 => ""; case 1 => "Talk:"; case 2 => "User:"; case 4 => "Project:"
        case _ => "Category:"
      }
      val xml = WikiFixtures.page(pageId, prefix + word().capitalize + " " + page, ns,
        redirect, revs) + "\n"
      w.write(xml)
      written += xml.length
    }
    w.write("</mediawiki>\n")
  }
}
