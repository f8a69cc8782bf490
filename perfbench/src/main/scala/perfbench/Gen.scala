package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** The benchmark's own input generators. They depend on nothing but the
  * seed: no program code runs here, so a change to the program can never
  * change a workload's inputs.
  */
object Gen {

  /** Zipf(s) over ranks 0 until n, sampled by binary search on the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = rank(r.nextDouble())

    /** The rank whose CDF interval holds `u` in [0, 1). */
    def rank(u: Double): Int = {
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  // Pseudo-words are built from letters the Porter stemmer never strips
  // (no e, s, t, l, c, y), so a word is its own index term and a one-letter
  // substitution inside the same alphabet is exactly one edit after
  // analysis too.
  private val Onsets = "bdfgjkmnpvxz"
  private val Vowels = "aiou"
  private val Codas = "bdgkxz"
  // Words that no dictionary or corpus word can fuzzy-match: fuzzy
  // expansion keeps the first letter fixed, and these start with letters
  // the generated words never start with.
  private val ForeignOnsets = "hrw"

  private def syllable(r: SplittableRandom, onsets: String): String =
    "" + onsets.charAt(r.nextInt(onsets.length)) +
      Vowels.charAt(r.nextInt(Vowels.length)) +
      Codas.charAt(r.nextInt(Codas.length))

  def word(r: SplittableRandom, syllables: Int, onsets: String = Onsets): String =
    (0 until syllables).map(_ => syllable(r, onsets)).mkString

  /** Replace `edits` distinct letters after the first with another letter
    * of the same class: exactly `edits` substitutions, stem-stable.
    */
  def misspell(r: SplittableRandom, w: String, edits: Int): String = {
    val chars = w.toCharArray
    val positions = scala.util.Random.javaRandomToRandom(
      new java.util.Random(r.nextLong())).shuffle((1 until w.length).toList)
      .take(edits)
    positions.foreach { p =>
      val cls = Seq(Onsets + ForeignOnsets, Vowels, Codas).find(_.indexOf(chars(p)) >= 0)
        .getOrElse(Onsets)
      var c = chars(p)
      while (c == chars(p)) c = cls.charAt(r.nextInt(cls.length))
      chars(p) = c
    }
    new String(chars)
  }

  /** Optimal string alignment distance, capped: returns max+1 as soon as
    * the distance is known to exceed `max`.
    */
  def osa(a: String, b: String, max: Int): Int = {
    if (math.abs(a.length - b.length) > max) return max + 1
    val n = a.length
    val m = b.length
    var prev2 = new Array[Int](m + 1)
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var rowMin = cur(0)
      var j = 1
      while (j <= m) {
        val cost = if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1
        var d = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
        if (i > 1 && j > 1 && a.charAt(i - 1) == b.charAt(j - 2) &&
          a.charAt(i - 2) == b.charAt(j - 1)) d = math.min(d, prev2(j - 2) + 1)
        cur(j) = d
        if (d < rowMin) rowMin = d
        j += 1
      }
      if (rowMin > max) return max + 1
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    math.min(prev(m), max + 1)
  }

  /** Distinct words at pairwise edit distance >= `minDist` among words that
    * share a first letter (the only ones fuzzy matching can confuse).
    */
  final class WordPool(r: SplittableRandom, syllables: Int, minDist: Int,
      onsets: String = Onsets) {
    private val byFirst = mutable.HashMap.empty[Char, mutable.ArrayBuffer[String]]
    def next(): String = {
      var w = word(r, syllables, onsets)
      var tries = 1
      while (byFirst.getOrElse(w.charAt(0), mutable.ArrayBuffer.empty[String])
          .exists(o => osa(o, w, minDist - 1) < minDist)) {
        require(tries < 10000, s"no word $minDist edits from all others after $tries tries")
        w = word(r, syllables, onsets)
        tries += 1
      }
      byFirst.getOrElseUpdate(w.charAt(0), mutable.ArrayBuffer.empty) += w
      w
    }
  }

  // ---------------------------------------------------------------- code

  final case class CodeDoc(id: Long, repo: String, path: String, commit: String,
      lang: String, content: String)

  /** A code corpus and what was planted in it: groups of identical files
    * (a file and its forks), groups of near-identical files (forks with one
    * identifier changed), and English README files.
    */
  final case class CodeCorpus(docs: Array[CodeDoc], vocab: Array[String],
      zipf: Zipf, exactGroups: Seq[Seq[Long]], nearGroups: Seq[Seq[Long]],
      proseDocs: Int) {
    lazy val contentBytes: Long =
      docs.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum
    lazy val distinctIdentifiers: Int = {
      val seen = mutable.HashSet.empty[String]
      val v = vocab.toSet
      docs.foreach(_.content.split("[^a-z0-9_]+").foreach(t => if (v(t)) seen += t))
      seen.size
    }
    def describe: String =
      s"docs=${docs.length} content_bytes=$contentBytes vocabulary=${vocab.length} " +
        s"identifiers_used=$distinctIdentifiers readme_docs=$proseDocs " +
        s"exact_dup_groups=${exactGroups.length} exact_dups=${exactGroups.map(_.length - 1).sum} " +
        s"near_dup_groups=${nearGroups.length} near_dups=${nearGroups.map(_.length - 1).sum}"
  }

  /** Terms in (almost) every code file: the head that crosses the salt
    * threshold and makes the index split its posting lists.
    */
  val CodeHead: Seq[String] = Seq("import", "def")
  private val Keywords = Seq("return", "class", "val", "if", "else", "for",
    "new", "object", "case", "match", "yield", "from", "try", "while")
  private val Langs = Seq("python", "scala", "java", "go")
  private val English = Seq("the", "and", "of", "to", "in", "is", "that",
    "for", "it", "with", "as", "on", "be", "at", "by", "this", "not", "are",
    "but", "from", "or", "have", "an", "they", "which", "one", "you", "all",
    "when", "there", "can", "has", "more", "if", "out", "so", "what", "up",
    "about", "into", "than", "them", "only", "other", "new", "some", "time",
    "these", "two", "first", "then", "any", "like", "over", "such", "our",
    "also", "many", "before", "must", "through", "back", "where", "much",
    "your", "way", "well", "down", "should", "because", "each", "just",
    "those", "how", "too", "good", "very", "make", "still", "own", "see",
    "work", "long", "get", "here", "between", "both", "being", "under",
    "never", "same", "another", "know", "while", "last", "might", "great",
    "used", "take", "three", "install", "build", "project", "library",
    "example", "release", "support", "version", "manual", "license", "update",
    "test", "module", "package", "setup", "config", "server", "client",
    "data", "file", "path", "option", "default", "value", "feature")

  /** Code-shaped documents: an import/def head in most files, keywords, and
    * identifiers drawn from a Zipf(1.1) over `vocabSize` pseudo-words. About
    * 8% are English READMEs, 3% are forks (exact copies of an earlier file)
    * and 3% near-forks (an earlier file with one identifier changed).
    */
  def codeCorpus(seed: Long, numDocs: Int, vocabSize: Int): CodeCorpus = {
    val r = new SplittableRandom(seed)
    val seen = mutable.HashSet.empty[String]
    val vocab = Array.fill(vocabSize) {
      var w = word(r, 2 + r.nextInt(2))
      while (seen(w)) w = word(r, 2 + r.nextInt(2))
      seen += w
      w
    }
    val zipf = new Zipf(vocabSize, 1.1)
    def ident(): String = vocab(zipf.sample(r))
    def codeFile(): String = {
      val sb = new StringBuilder
      if (r.nextDouble() < 0.7)
        (0 until 1 + r.nextInt(3)).foreach(_ => sb.append("import ")
          .append(ident()).append('.').append(ident()).append('\n'))
      (0 until 3 + r.nextInt(10)).foreach { _ =>
        if (r.nextDouble() < 0.25)
          sb.append("def ").append(ident()).append('(').append(ident())
            .append(", ").append(ident()).append("):\n")
        else {
          sb.append("    ")
          (0 until 2 + r.nextInt(5)).foreach { k =>
            if (k > 0) sb.append(' ')
            if (r.nextDouble() < 0.2) sb.append(Keywords(r.nextInt(Keywords.length)))
            else sb.append(ident())
          }
          sb.append('\n')
        }
      }
      sb.toString
    }
    val contents = mutable.ArrayBuffer.empty[(String, String, String)] // content, lang, file
    val exact = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    val near = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    var prose = 0
    while (contents.length < numDocs) {
      val u = r.nextDouble()
      val i = contents.length
      if (u < 0.03 && i > 0) {
        val src = r.nextInt(i)
        exact.getOrElseUpdate(src, mutable.ArrayBuffer(src.toLong)) += i
        contents += contents(src)
      } else if (u < 0.06 && i > 0 && contents(i - 1)._2 != "markdown") {
        val (c, lang, file) = contents(i - 1)
        val toks = c.split(" ")
        val k = r.nextInt(toks.length)
        near.getOrElseUpdate(i - 1, mutable.ArrayBuffer((i - 1).toLong)) += i
        contents += ((toks.updated(k, ident()).mkString(" "), lang, file))
      } else if (u < 0.14) {
        prose += 1
        contents += ((Seq.fill(40 + r.nextInt(80))(English(r.nextInt(English.length)))
          .mkString(" "), "markdown", "README.md"))
      } else contents += ((codeFile(), Langs(r.nextInt(Langs.length)), "f.py"))
    }
    val docs = contents.zipWithIndex.map { case ((content, lang, file), i) =>
      CodeDoc(i.toLong, f"org${i % 97}%02d/${vocab(i % vocabSize)}",
        s"src/${ident()}/$i/$file", f"${r.nextLong()}%016x", lang, content)
    }.toArray
    CodeCorpus(docs, vocab, zipf, exact.values.map(_.toSeq).toSeq.sortBy(_.head),
      near.values.map(_.toSeq).toSeq.sortBy(_.head), prose)
  }

  final case class Query(text: String, fuzzy: Boolean, kind: String)

  /** Query kinds by position: 20% fuzzy, 15% with a hot salted head term,
    * 5% with a term in no document. Terms per query cycle through 1-4.
    */
  private val QueryKinds: Seq[String] = Seq("plain", "fuzzy", "plain", "hot",
    "plain", "plain", "fuzzy", "plain", "plain", "hot", "plain", "fuzzy",
    "plain", "plain", "nomatch", "plain", "hot", "fuzzy", "plain", "plain")

  /** A seeded query stream over a code corpus with Zipf term popularity.
    * Term ranks come from a golden-ratio sequence through the Zipf CDF, so
    * every stretch of the stream holds the same spread of popular and rare
    * terms and the seed changes which identifiers they are, not how much
    * work the stream is. Fuzzy queries change 1-2 letters of one term.
    */
  def queries(seed: Long, corpus: CodeCorpus, n: Int): Array[Query] = {
    val r = new SplittableRandom(seed ^ 0x5eed5eedL)
    val phi = (math.sqrt(5) - 1) / 2
    var u = r.nextDouble()
    def term(): String = {
      u = (u + phi) % 1.0
      corpus.vocab(corpus.zipf.rank(u))
    }
    Array.tabulate(n) { i =>
      val kind = QueryKinds(i % QueryKinds.length)
      val k = 1 + (i + i / QueryKinds.length) % 4
      val terms = mutable.ArrayBuffer.fill(k)(term())
      kind match {
        case "fuzzy" =>
          val j = r.nextInt(k)
          terms(j) = misspell(r, terms(j), if (terms(j).length >= 7) 1 + r.nextInt(2) else 1)
          Query(terms.mkString(" "), fuzzy = true, kind)
        case "hot" =>
          terms(r.nextInt(k)) = CodeHead(r.nextInt(CodeHead.length))
          Query(terms.mkString(" "), fuzzy = false, kind)
        case "nomatch" =>
          terms(r.nextInt(k)) = word(r, 3, ForeignOnsets)
          Query(terms.mkString(" "), fuzzy = false, kind)
        case _ => Query(terms.mkString(" "), fuzzy = false, kind)
      }
    }
  }

  // -------------------------------------------------------------- detect

  final case class DictValue(entity: String, value: String, variants: Seq[String])

  val Entities: Seq[String] = Seq("city", "restaurant", "brand", "dish")

  final case class Dictionary(values: Array[DictValue], pool: WordPool,
      seed: Long) {
    def variantCount: Int = values.iterator.map(_.variants.length).sum
  }

  private def title(ws: Seq[String]): String = ws.map(_.capitalize).mkString(" ")

  def newValue(r: SplittableRandom, pool: WordPool, entity: String): DictValue = {
    val ws = Seq.fill(1 + r.nextInt(3))(pool.next())
    val vs = mutable.ArrayBuffer(ws.mkString(" "))
    if (r.nextDouble() < 0.3) vs += Seq.fill(1 + r.nextInt(2))(pool.next()).mkString(" ")
    if (r.nextDouble() < 0.2) {
      val i = r.nextInt(ws.length)
      vs += ws.updated(i, misspell(r, ws(i), 1)).mkString(" ")
    }
    DictValue(entity, title(ws), vs.toSeq)
  }

  /** Entity dictionary: `perEntity` values for each entity, 1-3 words per
    * value, some aliases and stored misspelled variants. Words sharing a
    * first letter are >= 5 edits apart, so a planted misspelling (<= 2
    * edits away) can only ever resolve to its own value.
    */
  def dictionary(seed: Long, perEntity: Int): Dictionary = {
    val r = new SplittableRandom(seed ^ 0xd1c7L)
    val pool = new WordPool(r, 4, 5)
    val values = Entities.flatMap(e => Seq.fill(perEntity)(newValue(r, pool, e)))
    Dictionary(values.toArray, pool, seed)
  }

  final case class Planted(entity: String, value: String, text: String, kind: String)
  final case class Message(text: String, planted: Seq[Planted])

  // Filler starts with letters no dictionary word starts with: it can
  // never fuzzy-match an entity variant.
  private val Filler = Seq("show", "me", "the", "way", "to", "and", "then",
    "a", "table", "at", "order", "two", "of", "this", "evening", "tomorrow",
    "is", "it", "open", "today", "can", "you", "check", "with", "one", "in",
    "look", "up", "really", "want", "eat", "see", "city", "trip", "around")

  private def filler(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(Filler(r.nextInt(Filler.length)))

  /** What the messages plant, by message number: every message holds two
    * values, and the kinds cycle so that every stretch of a request stream
    * carries the same mix.
    */
  val PlantedKinds: Seq[Seq[String]] = Seq(
    Seq("exact", "misspelled"), Seq("alias", "absent"),
    Seq("misspelled", "exact"), Seq("exact", "alias"))

  /** One chat turn: filler words around planted values that are exact,
    * misspelled (one letter in one word), an alias, or in no dictionary.
    */
  def message(r: SplittableRandom, dict: Dictionary, n: Int): Message = {
    val planted = PlantedKinds(n % PlantedKinds.length).map { kind =>
      val v = dict.values(r.nextInt(dict.values.length))
      kind match {
        case "absent" => Planted("", "", word(r, 4, ForeignOnsets), kind)
        case "alias" if v.variants.length > 1 => Planted(v.entity, v.value, v.variants(1), kind)
        case "misspelled" =>
          val ws = v.variants.head.split(" ")
          val i = r.nextInt(ws.length)
          Planted(v.entity, v.value, ws.updated(i, misspell(r, ws(i), 1)).mkString(" "), kind)
        case _ => Planted(v.entity, v.value, v.variants.head, "exact")
      }
    }
    Message((planted.flatMap(p => filler(r, 2) :+ p.text) ++ filler(r, 1)).mkString(" "),
      planted)
  }
}
