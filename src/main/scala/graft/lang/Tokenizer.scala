package graft.lang

/** Word splitting + alphabet/script language prefilter.
  *
  * Re-derives the observable contract of the unvendored `alphabet_detector`
  * crate from its call sites (SURVEY.md §1.4; reference:
  * src/detector/mod.rs:235, train/src/writer.rs:36-59):
  *
  *  - a word is a maximal run of letter code points; case is folded; digits,
  *    punctuation, separators and symbols split words; combining marks are
  *    dropped (so "i̇" folds to plain "i");
  *  - per word, per language, we count how many of its code points belong to
  *    that language's orthography (`Word.langs_cnt`);
  *  - the fulltext prefilter keeps the languages whose total membership count
  *    is within a 95% margin of the best-covered language
  *    (`fulltext_filter_with_margin::<_, 95>`).
  */
object Tokenizer {

  private def isWordChar(cp: Int): Boolean = Character.isLetter(cp)

  private def isCombining(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
    t == Character.ENCLOSING_MARK
  }

  /** Reusable flat token buffer: all words' code points in one array with
    * per-word offsets. The detector (one per partition) and the trainer
    * (one per `trainLocal` call or Spark partition) each reuse one buffer,
    * so tokenizing allocates nothing per word. Word i spans
    * `cps(offs(i)) until cps(offs(i+1))`.
    */
  final class TokenBuf {
    var cps: Array[Int] = new Array[Int](1024)
    var offs: Array[Int] = new Array[Int](65)
    var nWords: Int = 0
    private var cpLen = 0

    def clear(): Unit = { nWords = 0; cpLen = 0; offs(0) = 0 }
    def totalCps: Int = cpLen
    @inline def start(i: Int): Int = offs(i)
    @inline def end(i: Int): Int = offs(i + 1)
    @inline def len(i: Int): Int = offs(i + 1) - offs(i)

    private[Tokenizer] def addCp(cp: Int): Unit = {
      if (cpLen == cps.length) cps = java.util.Arrays.copyOf(cps, cps.length * 2)
      cps(cpLen) = cp
      cpLen += 1
    }
    private[Tokenizer] def endWord(): Unit = {
      if (offs(nWords) != cpLen) { // non-empty word
        nWords += 1
        if (nWords + 1 > offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
        offs(nWords) = cpLen
      }
    }
    /** UTF-8 byte length of all word chars (reorder formula input). */
    def utf8Bytes: Long = {
      var n = 0L
      var i = 0
      while (i < cpLen) {
        val c = cps(i)
        n += (if (c < 0x80) 1 else if (c < 0x800) 2 else if (c < 0x10000) 3 else 4)
        i += 1
      }
      n
    }
    def wordString(i: Int): String = new String(cps, start(i), len(i))
  }

  /** The tokenizer: split `text` into lowercased words (reference
    * contract of `words::from_ch_ind`, train/src/writer.rs:36) in `buf`,
    * replacing its previous contents. Training and detection both read
    * their words from here, so their n-grams cannot drift apart. Null is
    * empty text.
    */
  def tokenizeInto(text: String, buf: TokenBuf): Unit = {
    buf.clear()
    if (text == null) return
    var i = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      if (isWordChar(cp)) buf.addCp(Character.toLowerCase(cp))
      else if (isCombining(cp)) { /* dropped: fold "i̇" → "i" */ }
      else buf.endWord()
      i += Character.charCount(cp)
    }
    buf.endWord()
  }

  /** Reusable scratch for prefilterInto's mask deduplication: real text has
    * very few DISTINCT membership masks (plain a-z chars all share one), so
    * counting (mask → char count) first and expanding set bits once per
    * distinct mask turns per-char work from ~popcount(mask) increments into
    * one short linear probe. Entries are ScriptLang.MaskWords longs each,
    * flattened.
    */
  final class MaskScratch {
    val Cap = 24
    val words: Array[Long] = new Array[Long](Cap * ScriptLang.MaskWords)
    val cnt = new Array[Long](Cap)
    var n = 0
  }

  /** Language prefilter with a `marginPercent` (reference uses 95) over a
    * tokenized buffer: keep the languages whose per-char orthography
    * coverage is ≥ margin% of the best-covered language's coverage.
    * Candidates are computed over ALL registered languages; the detector
    * intersects with its configured set afterwards (reference:
    * src/detector/mod.rs:235-239). Allocation-free: fills `counts` (length
    * ScriptLang.count, cleared here) and writes the candidate ids,
    * ascending (= popularity ordinal), into `candOut`, returning their
    * count.
    */
  def prefilterInto(
      buf: TokenBuf,
      counts: Array[Long],
      candOut: Array[Int],
      marginPercent: Int = 95,
      scratch: MaskScratch = new MaskScratch
  ): Int = {
    java.util.Arrays.fill(counts, 0L)
    scratch.n = 0
    val nw = ScriptLang.MaskWords
    var i = 0
    val n = buf.totalCps
    while (i < n) {
      val cp = buf.cps(i)
      // one row fetch per char: the cp-major mask layout puts all words
      // of this cp on adjacent indices (≈ one cache line)
      val row = ScriptLang.maskRowArray(cp)
      val base = ScriptLang.maskRowBase(cp)
      var any = false
      var w = 0
      while (w < nw && !any) { any = row(base + w) != 0L; w += 1 }
      if (any) {
        // dedup by the full mask tuple: distinct-mask count per doc is tiny
        var j = 0
        var found = false
        while (j < scratch.n && !found) {
          var eq = true
          var v = 0
          while (v < nw && eq) {
            eq = scratch.words(j * nw + v) == row(base + v)
            v += 1
          }
          if (eq) { scratch.cnt(j) += 1; found = true }
          j += 1
        }
        if (!found) {
          if (scratch.n < scratch.Cap) {
            var v = 0
            while (v < nw) {
              scratch.words(scratch.n * nw + v) = row(base + v)
              v += 1
            }
            scratch.cnt(scratch.n) = 1
            scratch.n += 1
          } else {
            // scratch full (pathological mixed-script text): expand directly
            var v = 0
            while (v < nw) {
              var m = row(base + v)
              while (m != 0L) {
                counts((v << 6) + java.lang.Long.numberOfTrailingZeros(m)) += 1
                m &= m - 1
              }
              v += 1
            }
          }
        }
      }
      i += 1
    }
    // expand each distinct mask once
    var k = 0
    while (k < scratch.n) {
      val c = scratch.cnt(k)
      var v = 0
      while (v < nw) {
        var m = scratch.words(k * nw + v)
        while (m != 0L) {
          counts((v << 6) + java.lang.Long.numberOfTrailingZeros(m)) += c
          m &= m - 1
        }
        v += 1
      }
      k += 1
    }
    var max = 0L
    var l = 0
    while (l < counts.length) { if (counts(l) > max) max = counts(l); l += 1 }
    if (max == 0L) return 0
    var out = 0
    l = 0
    while (l < counts.length) {
      if (counts(l) * 100 >= max * marginPercent) { candOut(out) = l; out += 1 }
      l += 1
    }
    out
  }
}
