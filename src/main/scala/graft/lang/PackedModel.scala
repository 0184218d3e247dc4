package graft.lang

import scala.collection.mutable

/** N-gram hashing: 64-bit FNV-1a over code points.
  *
  * The reference stores n-grams as stack strings and probes FxHash maps
  * (reference: src/ngrams.rs:6, src/bin_storage.rs:7). We never materialize
  * n-gram strings at all: both the trainer and the detector hash the code
  * point window to a fixed, versioned 64-bit key ("n-gram hashing and
  * log-probability summation fused into one map", SURVEY.md §4). Collisions
  * are checked at model-build time.
  */
object NgramHash {
  final val Seed: Long = 0xcbf29ce484222325L
  final val Prime: Long = 0x100000001b3L
  /** open-addressing empty sentinel remap: a real hash of 0 becomes this */
  final val ZeroRemap: Long = 0x9e3779b97f4a7c15L

  @inline def step(h: Long, cp: Int): Long = {
    var x = h
    x = (x ^ (cp & 0xff)) * Prime
    x = (x ^ ((cp >>> 8) & 0xff)) * Prime
    x = (x ^ ((cp >>> 16) & 0xff)) * Prime
    x
  }

  def ofWindow(cps: Array[Int], start: Int, len: Int): Long = {
    var h = Seed
    var i = 0
    while (i < len) { h = step(h, cps(start + i)); i += 1 }
    if (h == 0L) ZeroRemap else h
  }

  def ofString(s: String): Long = {
    var h = Seed
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = step(h, cp)
      i += Character.charCount(cp)
    }
    if (h == 0L) ZeroRemap else h
  }

  /** Stafford's mix13 64-bit finalizer: spreads FNV keys over table slots
    * (ProbTable, LongCounter) and seeds every hash-derived choice of the
    * similarity operators (MinHash permutations, band keys, q19 prefix
    * keys, q26 hyperplanes, k-means|| picks), so it must stay bit-stable.
    */
  @inline def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
}

/** One n-gram-size lookup table: open-addressing Long→postings-slice map.
  *
  * Postings are (langId, ln-prob) pairs sorted by langId, flattened into
  * primitive arrays — the Spark-side analog of the reference's
  * `HashMap<String, Vec<(u16, f64)>>` sorted by language
  * (reference: src/bin_storage.rs:7, 88-98). Probabilities are stored as
  * Float (BASELINE.json north_star: `Map[Long, Float]`) and accumulated in
  * Double.
  */
final class ProbTable private (
    val keys: Array[Long],      // 0 = empty slot (real 0-hash remapped)
    val starts: Array[Int],
    val lens: Array[Int],
    val postLangs: Array[Short],
    val postProbs: Array[Float]
) extends Serializable {
  private val mask = keys.length - 1

  /** Mask words needed to cover every language id present in postings
    * (0 for an empty table). Kept table-local so a table stays
    * self-describing: the detector ANDs only the overlap with its own
    * candidate mask — a candidate id beyond this width cannot appear in
    * this table's postings and is correctly ignored.
    */
  val maskWords: Int = {
    var maxLang = -1
    var i = 0
    while (i < postLangs.length) {
      if (postLangs(i) > maxLang) maxLang = postLangs(i).toInt
      i += 1
    }
    (maxLang + 64) >> 6
  }

  /** Per-slot language bitmask: the OR of (1 << langId) over the slot's
    * postings, `maskWords` longs per slot. One AND against the caller's
    * candidate mask decides "does ANY candidate appear in this posting
    * list" in O(maskWords) instead of a per-entry branch over the list —
    * and lets the accumulation loop run branch-free (see
    * Detector.probeNgram). Memory: cap × maskWords × 8 B ≈ 2.4× the key
    * array at 346 registered languages — accepted; it scales linearly
    * with the broadcast model it accompanies.
    */
  private val langMasks: Array[Long] = {
    val lm = new Array[Long](keys.length * maskWords)
    var i = 0
    while (i < keys.length) {
      val len = lens(i)
      if (keys(i) != 0L && len > 0) {
        val st = starts(i)
        val base = i * maskWords
        var j = 0
        while (j < len) {
          val l = postLangs(st + j).toInt
          lm(base + (l >> 6)) |= (1L << (l & 63))
          j += 1
        }
      }
      i += 1
    }
    lm
  }

  /** True iff any language in `cand` (a ≥`maskWords`-wide bitmask — extra
    * words are ignored, see maskWords scaladoc) appears in slot's postings.
    */
  @inline def anyLangIn(slot: Int, cand: Array[Long]): Boolean = {
    val mw = maskWords
    val base = slot * mw
    val lim = if (cand.length < mw) cand.length else mw
    var w = 0
    while (w < lim) {
      if ((langMasks(base + w) & cand(w)) != 0L) return true
      w += 1
    }
    false
  }

  /** Home-slot bitmap: bit `slotOf(key)` is set for every stored key. A
    * clear bit PROVES absence (a stored key always sets its own home
    * slot, wherever displacement lands it), so the dominant case on real
    * text — n-grams absent from every model — resolves with one load in
    * a structure 64× denser than the key array (cap bits vs cap longs).
    * At fixture scale (~1.4 MB total tables) this is ~neutral — the
    * tables are cache-resident either way; it is sized for REAL model
    * scale (188-language OpenLID-class models, GBs of postings), where
    * the key arrays cannot stay in cache and every miss otherwise costs
    * a main-memory probe chain.
    */
  private val homeBits: Array[Long] = {
    val b = new Array[Long]((keys.length >> 6) max 1)
    var i = 0
    while (i < keys.length) {
      if (keys(i) != 0L) {
        val s = ProbTable.slotOf(keys(i), mask)
        b(s >> 6) |= (1L << (s & 63))
      }
      i += 1
    }
    b
  }

  /** index of key's slot or -1 */
  @inline def find(key: Long): Int = {
    val s = ProbTable.slotOf(key, mask)
    if (((homeBits(s >> 6) >>> (s & 63)) & 1L) == 0L) return -1
    var i = s
    var k = keys(i)
    while (k != 0L) {
      if (k == key) return i
      i = (i + 1) & mask
      k = keys(i)
    }
    -1
  }

  def size: Int = lens.count(_ > 0)
}

object ProbTable {
  /** Home slot of `key` in a table of `mask + 1` slots. */
  @inline private def slotOf(key: Long, mask: Int): Int = NgramHash.mix(key).toInt & mask

  /** The one way to build a ProbTable, shared by both packers:
    * `PackedModel.fromModels` feeds it from its per-size driver maps, and
    * `ModelIO.packDistributed` streams (key, postings) entries into it
    * from a `toLocalIterator`, so the driver holds only the FINAL table
    * arrays (the broadcast payload itself) plus one entry. `nKeys` and
    * `nPostings` pre-size the arrays and must be exact.
    */
  final class Builder(nKeys: Int, nPostings: Int) {
    private var cap = 16
    while (cap < nKeys * 2) cap <<= 1
    private val keys = new Array[Long](cap)
    private val starts = new Array[Int](cap)
    private val lens = new Array[Int](cap)
    private val postLangs = new Array[Short](nPostings)
    private val postProbs = new Array[Float](nPostings)
    private val mask = cap - 1
    private var cursor = 0

    /** postings must already be sorted by langId. */
    def add(key0: Long, langs: Array[Int], probs: Array[Double]): Unit = {
      val key = if (key0 == 0L) NgramHash.ZeroRemap else key0
      var i = slotOf(key, mask)
      while (keys(i) != 0L) {
        require(keys(i) != key, s"duplicate ngram key $key")
        i = (i + 1) & mask
      }
      keys(i) = key
      starts(i) = cursor
      lens(i) = langs.length
      var j = 0
      while (j < langs.length) {
        postLangs(cursor) = langs(j).toShort
        postProbs(cursor) = probs(j).toFloat
        cursor += 1
        j += 1
      }
    }

    def result(): ProbTable = {
      require(cursor == nPostings, s"builder fed $cursor of $nPostings postings")
      new ProbTable(keys, starts, lens, postLangs, postProbs)
    }
  }
}

/** The merged runtime model: 5 char-gram tables + a wordgram table +
  * per-language floors — the Spark-side `BinStorage`
  * (reference: src/bin_storage.rs:7-19). Broadcast once per executor.
  */
final class PackedModel(
    val nLangs: Int,
    val charFloors: Array[Double],   // per langId, normalized (−(max+0.05))
    val wordgramFloor: Double,
    val charTables: Array[ProbTable], // index 0..4 = uni..five
    val wordTable: ProbTable,
    /** schema/version hash checked at load (reference: src/bin_storage.rs:18) */
    val schemaHash: Long,
    /** per-langId sorted hashes of high-frequency words (wordgram ln-prob ≥
      * ln(1%)) — the stopword sets the quality rules use, derived from the
      * model itself rather than hand lists
      */
    val stopwordHashes: Array[Array[Long]]
) extends Serializable {
  def isStopword(langId: Int, wordHash: Long): Boolean =
    java.util.Arrays.binarySearch(stopwordHashes(langId), wordHash) >= 0

  /** Approximate broadcast footprint in bytes (primitive array payloads) —
    * the number that matters when sizing the executor-side model at
    * 188-language scale.
    */
  def footprintBytes: Long = {
    def table(t: ProbTable): Long =
      t.keys.length.toLong * 8 + t.starts.length.toLong * 4 +
        t.lens.length.toLong * 4 + t.postLangs.length.toLong * 2 +
        t.postProbs.length.toLong * 4
    charTables.map(table).sum + table(wordTable) +
      charFloors.length.toLong * 8 +
      stopwordHashes.map(_.length.toLong * 8).sum
  }

  /** total distinct n-gram entries across all tables */
  def entryCount: Long =
    charTables.map(_.size.toLong).sum + wordTable.size.toLong
}

object PackedModel {
  /** Version hash: registry size + codes, like the reference's
    * `ScriptLanguage::HASH` layout check (src/detector/storage.rs:124-126).
    */
  def registryHash: Long = {
    var h = NgramHash.Seed
    ScriptLang.all.foreach { l =>
      l.code.foreach(c => h = NgramHash.step(h, c.toInt))
      h = NgramHash.step(h, l.id)
    }
    h
  }

  /** Stopword threshold: a word is a stopword of a language when its
    * wordgram ln-prob is at least ln(1%).
    */
  val StopwordMinLogProb: Double = math.log(0.01)

  /** The `BinStorage::finalize` step both packers end in
    * (reference: src/bin_storage.rs:100-111):
    *  - char floor per lang = ln(1/#unigrams), normalized by subtracting
    *    (max floor + 0.05); a language without unigrams has no model and
    *    keeps a floor of −∞;
    *  - wordgram floor = min(0.0, min wordgram lnProb·4.0);
    *  - stopword sets sorted for `isStopword`'s binary search.
    *
    * @param uniCounts      per langId, distinct unigrams in its model
    * @param minWordLogProb least wordgram ln-prob over all languages
    *                       (+∞ when no language has wordgrams)
    * @param stopwords      per langId, hashes of words whose wordgram
    *                       ln-prob is ≥ StopwordMinLogProb
    * @param tables         0..4 = uni..five char tables, 5 = wordgrams
    */
  def finalizeModel(
      uniCounts: Array[Long],
      minWordLogProb: Double,
      stopwords: Array[Array[Long]],
      tables: Array[ProbTable]
  ): PackedModel = {
    val floors = uniCounts.map(c =>
      if (c > 0) math.log(1.0 / c.toDouble) else Double.NegativeInfinity)
    val maxFloor = floors.max + 0.05
    floors.mapInPlace(_ - maxFloor)
    stopwords.foreach(java.util.Arrays.sort)
    new PackedModel(
      nLangs = uniCounts.length,
      charFloors = floors,
      wordgramFloor = math.min(0.0, minWordLogProb * 4.0),
      charTables = tables.take(5),
      wordTable = tables(5),
      schemaHash = registryHash,
      stopwordHashes = stopwords
    )
  }

  /** Merge per-language models into the runtime model on the driver,
    * mirroring `BinStorage::add` (reference: src/bin_storage.rs:53-98):
    * every n-gram string is hashed and collision-checked, its postings
    * sorted by langId into one ProbTable per size, then `finalizeModel`.
    *
    * @param models langId → 6 maps (uni,bi,tri,quadri,five,word), each
    *               ngramString → ln(relative frequency)
    */
  def fromModels(models: Seq[(Int, Array[Map[String, Double]])]): PackedModel = {
    val n = ScriptLang.count
    val uniCounts = new Array[Long](n)
    var minWord = Double.PositiveInfinity
    val stopwords = Array.fill(n)(Array.emptyLongArray)
    // per size: hash → buffer of (lang, prob)
    val acc = Array.fill(6)(mutable.LongMap.empty[mutable.ArrayBuffer[(Int, Double)]])
    val seenStrings = Array.fill(6)(mutable.HashMap.empty[Long, String])

    models.foreach { case (langId, sizes) =>
      require(sizes.length == 6, "model must have 6 ngram sizes")
      uniCounts(langId) = sizes(0).size.toLong
      val stops = mutable.ArrayBuilder.make[Long]
      var s = 0
      while (s < 6) {
        sizes(s).foreach { case (ngram, prob) =>
          val h = NgramHash.ofString(ngram)
          seenStrings(s).get(h) match {
            case Some(prev) => require(prev == ngram, s"hash collision: '$prev' vs '$ngram'")
            case None => seenStrings(s)(h) = ngram
          }
          acc(s).getOrElseUpdate(h, mutable.ArrayBuffer.empty) += ((langId, prob))
          if (s == 5) {
            minWord = math.min(minWord, prob)
            if (prob >= StopwordMinLogProb) stops += h
          }
        }
        s += 1
      }
      stopwords(langId) = stops.result()
    }

    val tables = acc.map { entries =>
      val b = new ProbTable.Builder(entries.size, entries.valuesIterator.map(_.length).sum)
      entries.foreachEntry { (key, postings) =>
        val sorted = postings.sortBy(_._1)
        b.add(key, sorted.map(_._1).toArray, sorted.map(_._2).toArray)
      }
      b.result()
    }
    finalizeModel(uniCounts, minWord, stopwords, tables)
  }
}
