package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.mr.MRApp

/** The mr_corpus input: a synthetic text corpus made by the benchmark from
  * its seed, never by the program under test.
  *
  * Word frequencies follow Zipf's law with s = 1 over a 50k-word
  * vocabulary, like natural text: a few stopwords carry most of the
  * shuffle and the tail makes the key space wide. A small share of words
  * carry non-ASCII letters and the separators mix spaces, punctuation,
  * digits and newlines, so the tokenizer's letter-class split is
  * exercised. The same seed gives byte-identical files.
  */
object Corpus {
  val FileCount   = 32
  val Vocabulary  = 50000
  private val Letters  = "abcdefghijklmnopqrstuvwxyz"
  private val Accented = "éèüößñç"
  private val Seps     = Array(" ", " ", " ", " ", " ", " ", ", ", ". ", "\n", " - ", " 42 ", "; ")

  def fileName(i: Int): String = f"part-$i%02d.txt"

  /** Write `FileCount` files of about `bytes / FileCount` bytes each into `dir`. */
  def generate(dir: Path, seed: Long, bytes: Long): Unit = {
    val rnd   = new SplittableRandom(seed)
    val vocab = words(rnd)
    // cumulative Zipf weights 1/r, sampled by binary search
    val cum = new Array[Double](Vocabulary)
    var acc = 0.0
    for (r <- 0 until Vocabulary) { acc += 1.0 / (r + 1); cum(r) = acc }
    Files.createDirectories(dir)
    val perFile = bytes / FileCount
    for (f <- 0 until FileCount) {
      val sb = new java.lang.StringBuilder((perFile + 64).toInt)
      while (sb.length < perFile) {
        val x = rnd.nextDouble() * acc
        var lo = 0; var hi = Vocabulary - 1
        while (lo < hi) { val m = (lo + hi) >>> 1; if (cum(m) < x) lo = m + 1 else hi = m }
        sb.append(vocab(lo)).append(Seps(rnd.nextInt(Seps.length)))
      }
      Files.write(dir.resolve(fileName(f)), sb.toString.getBytes(UTF_8))
    }
  }

  private def words(rnd: SplittableRandom): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < Vocabulary) {
      val n  = 2 + rnd.nextInt(9)
      val sb = new StringBuilder
      for (_ <- 0 until n)
        sb.append(if (rnd.nextInt(40) == 0) Accented.charAt(rnd.nextInt(Accented.length))
                  else Letters.charAt(rnd.nextInt(Letters.length)))
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  /** Timings of one sequential run, for the mr.* per-layer metrics. */
  final case class SeqRun(digest: Digest, mapNs: Long, bytes: Long, reduceNs: Long, values: Long)

  /** The reference's `mrsequential` oracle: one thread maps every file,
    * sorts all pairs by (key, value), and hands each key's values to
    * `reduce`. Output lines are `"<key> <value>"`, like the program's text
    * sink. Files are given as (name as the program sees it, contents).
    *
    * With `timeStream`, also times the app's `reduceStream` over the same
    * sorted groups; that pass is kept apart from the oracle's own reduce.
    */
  def sequential(app: MRApp, files: Seq[(String, String)], timeStream: Boolean = false): SeqRun = {
    val t0  = System.nanoTime()
    val kvs = files.flatMap { case (n, c) => app.map(n, c) }.toArray
    val mapNs = System.nanoTime() - t0
    val bytes = files.map(_._2.getBytes(UTF_8).length.toLong).sum
    java.util.Arrays.sort(kvs, (a: graft.mr.KV, b: graft.mr.KV) => {
      val c = a.key.compareTo(b.key)
      if (c != 0) c else a.value.compareTo(b.value)
    })
    val lines  = Vector.newBuilder[String]
    var reduceNs = 0L
    var i = 0
    while (i < kvs.length) {
      var j = i
      while (j < kvs.length && kvs(j).key == kvs(i).key) j += 1
      val key    = kvs(i).key
      val values = (i until j).map(kvs(_).value)
      app.reduce(key, values).foreach(v => lines += s"$key $v")
      if (timeStream) {
        val s = System.nanoTime()
        app.reduceStream(key, values.iterator).foreach(_ => ())
        reduceNs += System.nanoTime() - s
      }
      i = j
    }
    SeqRun(Digest.ofLines(lines.result().iterator), mapNs, bytes, reduceNs, kvs.length.toLong)
  }
}
