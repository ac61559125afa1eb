package bench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * seed and sizes: the same arguments write byte-identical files. The
  * lookup generator also returns the ground truth its checks use.
  */
object Gen {

  /** Marker and stop words the engine's language-ID and stop-word
    * lists react to; generated vocabulary never collides with them.
    */
  private val Reserved: Set[String] =
    (graft.text.Analysis.LangMarkers.flatMap(_._2) ++
      graft.text.TextOps.EnglishStopwords).toSet

  private val EnMarkers = graft.text.Analysis.LangMarkers.toMap.apply("en").toArray
  private val DeMarkers = graft.text.Analysis.LangMarkers.toMap.apply("de").toArray

  private val Consonants = "bcdfghklmnprstvz"
  private val Vowels = "aeiou"
  private val UrlChars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  /** `n` distinct lowercase letter-only words of 2–4 syllables. */
  def vocabulary(rng: Random, n: Int): Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val sb = new StringBuilder
      (0 until 2 + rng.nextInt(3)).foreach { _ =>
        sb += Consonants(rng.nextInt(Consonants.length))
        sb += Vowels(rng.nextInt(Vowels.length))
      }
      if (rng.nextInt(3) == 0) sb += Consonants(rng.nextInt(Consonants.length))
      val w = sb.toString
      if (!Reserved.contains(w)) out += w
    }
    out.toArray
  }

  private def writeLines(path: String)(body: BufferedWriter => Unit): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path), StandardCharsets.UTF_8))
    try body(w) finally w.close()
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private def pick(rng: Random, xs: Array[String]): String =
    xs(rng.nextInt(xs.length))

  // ---------------------------------------------------------------- tweets

  /** A tweet CSV in the reference shape `id,keyword,location,text,target`:
    * quoted fields with embedded newlines and `""` escapes, hashtags,
    * mentions and URLs, about 57/43 negatives to positives. Class words
    * carry the signal; a tenth of the tweets draw them from the other
    * class, so the classifiers land well below a perfect score.
    */
  def tweets(seed: Long, n: Int, path: String): Unit = {
    val rng = new Random(seed * 1000003L + 11)
    val vocab = vocabulary(rng, 2800)
    val disaster = vocab.slice(0, 300)
    val casual = vocab.slice(300, 600)
    val shared = vocab.slice(600, 2800)
    val keywords = disaster.take(60)
    val places = vocab.slice(2000, 2040).map(_.capitalize)
    writeLines(path) { w =>
      w.write("id,keyword,location,text,target\n")
      (0 until n).foreach { i =>
        val label = if (rng.nextDouble() < 0.43) 1 else 0
        val cue = if (rng.nextDouble() < 0.1) 1 - label else label
        val classWords = if (cue == 1) disaster else casual
        val words = ArrayBuffer.empty[String]
        (0 until 6 + rng.nextInt(15)).foreach { _ =>
          val base =
            if (rng.nextDouble() < 0.3) pick(rng, classWords)
            else pick(rng, shared)
          words += (if (rng.nextInt(8) == 0) base.capitalize else base)
        }
        if (rng.nextDouble() < 0.3)
          words.insert(rng.nextInt(words.length), "#" + pick(rng, classWords))
        if (rng.nextDouble() < 0.25)
          words.insert(0, "@user" + rng.nextInt(100000))
        if (rng.nextDouble() < 0.2)
          words += "http://t.co/" + Iterator.fill(10)(
            UrlChars(rng.nextInt(UrlChars.length))).mkString
        if (rng.nextDouble() < 0.15) {
          val k = rng.nextInt(words.length)
          words(k) = words(k) + ","
        }
        if (rng.nextDouble() < 0.05) {
          val k = rng.nextInt(words.length)
          words(k) = "\"" + words(k) + "\""
        }
        var text = words.mkString(" ")
        if (rng.nextDouble() < 0.05) {
          val k = text.indexOf(' ', text.length / 2)
          if (k > 0) text = text.substring(0, k) + "\n" + text.substring(k + 1)
        }
        val kw = if (rng.nextDouble() < 0.01) "" else pick(rng, keywords)
        val loc = rng.nextInt(3) match {
          case 0 => ""
          case 1 => pick(rng, places)
          case _ => pick(rng, places) + ", " + pick(rng, places)
        }
        w.write(s"$i,${csvField(kw)},${csvField(loc)},${csvField(text)},$label\n")
      }
    }
  }

  // --------------------------------------------------------------- lookup

  /** A document of `len` tokens, a quarter of them language markers. */
  private def doc(rng: Random, markers: Array[String], vocab: Array[String],
                  len: Int): Array[String] =
    Array.fill(len)(
      if (rng.nextDouble() < 0.25) pick(rng, markers) else pick(rng, vocab))

  /** Near-duplicate of `d`: about `editShare` of its tokens replaced and
    * one token deleted.
    */
  private def variant(rng: Random, d: Array[String], vocab: Array[String],
                      editShare: Double): Array[String] = {
    val v = d.clone()
    val edits = math.max(1, math.round(d.length * editShare).toInt)
    (0 until edits).foreach(_ => v(rng.nextInt(v.length)) = pick(rng, vocab))
    val del = rng.nextInt(v.length)
    v.take(del) ++ v.drop(del + 1)
  }

  /** Inputs of the lookup workload. `planted(b)` holds the (batch id,
    * index id) pairs planted in incoming batch `b`, `batchEnglish(b)`
    * the ids of its English documents.
    */
  final case class LookupTruth(queryFiles: IndexedSeq[String],
                               batchFiles: IndexedSeq[String],
                               planted: IndexedSeq[Set[(Long, Long)]],
                               batchEnglish: IndexedSeq[Set[Long]])

  val IndexIdBase = 1000000L
  val QueryIdBase = 10000000L

  private def fmt(x: Double): String = java.lang.Double.toString(math.rint(x * 1e4) / 1e4)

  /** Clustered `dim`-d vectors (`vectors.json`), a pool of query sets
    * (`queries/q<i>.json`), a near-dup index corpus of web documents
    * (`nd_docs.json`, ids from [[IndexIdBase]]) and a pool of incoming
    * 16-doc batches (`batches/b<i>.json`): 8 planted near-duplicates
    * (3% token edits) of index documents, 6 fresh English documents and
    * 2 German ones.
    */
  def lookup(seed: Long, nVec: Int, dim: Int, clusters: Int,
             querySets: Int, queryPerSet: Int, nDocs: Int,
             batches: Int, dir: String): LookupTruth = {
    val rng = new Random(seed * 1000003L + 37)
    val centers = Array.fill(clusters, dim)(rng.nextGaussian())
    def point(): Array[Double] = {
      val c = centers(rng.nextInt(clusters))
      c.map(x => x + rng.nextGaussian())
    }
    val vecs = Array.fill(nVec)(point())
    writeLines(s"$dir/vectors.json") { w =>
      vecs.zipWithIndex.foreach { case (v, i) =>
        w.write(s"""{"vec_id":$i,"embedding":[${v.map(fmt).mkString(",")}]}""")
        w.write('\n')
      }
    }
    val queryFiles = (0 until querySets).map { s =>
      val p = s"$dir/queries/q$s.json"
      writeLines(p) { w =>
        (0 until queryPerSet).foreach { j =>
          val id = QueryIdBase + s * queryPerSet + j
          w.write(s"""{"vec_id":$id,"embedding":[${point().map(fmt).mkString(",")}]}""")
          w.write('\n')
        }
      }
      p
    }
    val vocab = vocabulary(rng, 6000)
    val idx = Array.fill(nDocs)(doc(rng, EnMarkers, vocab, 60 + rng.nextInt(141)))
    writeLines(s"$dir/nd_docs.json") { w =>
      idx.zipWithIndex.foreach { case (d, i) =>
        w.write(s"""{"id":${IndexIdBase + i},"text":"${d.mkString(" ")}"}""")
        w.write('\n')
      }
    }
    val deVocab = vocabulary(rng, 2000)
    val planted = ArrayBuffer.empty[Set[(Long, Long)]]
    val english = ArrayBuffer.empty[Set[Long]]
    val batchFiles = (0 until batches).map { b =>
      val p = s"$dir/batches/b$b.json"
      val pairs = ArrayBuffer.empty[(Long, Long)]
      val en = ArrayBuffer.empty[Long]
      writeLines(p) { w =>
        (0 until 16).foreach { j =>
          val id = b * 16L + j
          val text =
            if (j % 2 == 0) {
              val src = rng.nextInt(nDocs)
              pairs += ((id, IndexIdBase + src))
              en += id
              variant(rng, idx(src), vocab, 0.03)
            } else if (j == 1 || j == 9) doc(rng, DeMarkers, deVocab, 60 + rng.nextInt(141))
            else { en += id; doc(rng, EnMarkers, vocab, 60 + rng.nextInt(141)) }
          w.write(s"""{"id":$id,"text":"${text.mkString(" ")}"}""")
          w.write('\n')
        }
      }
      planted += pairs.toSet
      english += en.toSet
      p
    }
    LookupTruth(queryFiles, batchFiles, planted.toIndexedSeq, english.toIndexedSeq)
  }

  /** SHA-256 of every regular file under `dir`, keyed by relative path. */
  def digests(dir: String): Map[String, String] = {
    val root = new File(dir).toPath
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new File(dir)).filter(_.isFile).map { f =>
      md.reset()
      val h = md.digest(java.nio.file.Files.readAllBytes(f.toPath))
      root.relativize(f.toPath).toString -> h.map("%02x".format(_)).mkString
    }.toMap
  }
}
