package graft.lang

/** Language registry: language × writing script, with an explicit popularity
  * ordering and per-language alphabet membership.
  *
  * Mirrors the observable contract of the reference's `ScriptLanguage` enum
  * (reference: src/lib.rs:3, 346 variants from the external
  * `alphabet_detector` crate) without porting it: we keep a compact registry
  * of the languages our fixtures model, ordered by approximate total
  * speakers (most first). The ordinal is used exactly like the reference's
  * enum order: as the tiebreak in result sorting
  * (reference: src/detector/mod.rs:455-464) and as the popularity rank in
  * `detect_top_one_reordered` (reference: src/detector/mod.rs:376-409).
  *
  * Alphabets are defined from public orthography knowledge; script
  * identification uses the JDK's `Character.UnicodeScript` (public Unicode
  * data). The registry holds 346 entries — COUNT parity with the
  * reference's 346 ScriptLanguage variants; the set composition differs
  * where the reference's unvendored `alphabet_detector` variant list is
  * not publicly enumerable (SURVEY.md §1.4 permits this).
  */
object ScriptLang {

  /** One registered language.
    *
    * @param id        dense ordinal == popularity rank (0 = most spoken)
    * @param code      stable string code emitted in output columns
    * @param scripts   Unicode script names (Character.UnicodeScript.name)
    * @param alphabet  lowercase code points of the orthography; empty ⇒
    *                  membership decided by script alone (script-only langs)
    */
  final case class Lang(id: Int, code: String, scripts: Set[String], alphabet: Set[Int])

  private def cps(s: String): Set[Int] = s.codePoints().toArray.toSet

  private val azLower = cps("abcdefghijklmnopqrstuvwxyz")
  private val ruBase  = cps("абвгдежзийклмнопрстуфхцчшщъыьэюяё")

  private def latin(extra: String): (Set[String], Set[Int]) =
    (Set("LATIN"), azLower ++ cps(extra))
  private def cyr(chars: String): (Set[String], Set[Int]) =
    (Set("CYRILLIC"), cps(chars))
  private def scriptOnly(names: String*): (Set[String], Set[Int]) =
    (names.toSet, Set.empty[Int])

  // Vietnamese tone-marked vowels, spelled out (precomposed NFC forms).
  private val viExtra =
    "ăâđêôơưáàảãạắằẳẵặấầẩẫậéèẻẽẹếềểễệíìỉĩịóòỏõọốồổỗộớờởỡợúùủũụứừửữựýỳỷỹỵ"

  /** Registry in popularity order. Do not reorder entries: ordinal is
    * contract (it is the reordered-mode popularity rank).
    */
  val all: Vector[Lang] = {
    val defs: Vector[(String, (Set[String], Set[Int]))] = Vector(
      "eng" -> latin(""),
      "cmn_Hans" -> scriptOnly("HAN"),
      "hin" -> scriptOnly("DEVANAGARI"),
      "spa" -> latin("áéíóúüñ¿¡"),
      "fra" -> latin("àâæçéèêëîïôœùûüÿ"),
      "arb" -> (Set("ARABIC"), cps("ابتثجحخدذرزسشصضطظعغفقكلمنهويءآأؤإئةى")),
      "ben" -> scriptOnly("BENGALI"),
      "por" -> latin("áâãàçéêíóôõú"),
      "rus" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяё"),
      "urd" -> (Set("ARABIC"), cps("ابپتٹثجچحخدڈذرڑزژسشصضطظعغفقکگلمنںوہھءیےآأؤئة")),
      "deu" -> latin("äöüß"),
      "jpn" -> scriptOnly("HIRAGANA", "KATAKANA", "HAN"),
      "mar" -> scriptOnly("DEVANAGARI"),
      "vie" -> latin(viExtra),
      "tur" -> latin("çğıöşüâîû"),
      "ita" -> latin("àèéìíîòóùú"),
      "yor" -> latin("ẹọṣàáèéìíòóùúńǹ"),
      "cmn_Hant" -> scriptOnly("HAN"),
      "kor" -> scriptOnly("HANGUL"),
      "pol" -> latin("ąćęłńóśźż"),
      "ukr" -> cyr("абвгґдеєжзиіїйклмнопрстуфхцчшщьюя"),
      "nld" -> latin("éëèêïĳöü"),
      "ron" -> latin("ăâîșşțţ"),
      "ell" -> scriptOnly("GREEK"),
      "aze" -> latin("çəğıöşü"),
      "kaz" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәғқңөұүһі"),
      "hun" -> latin("áéíóöőúüű"),
      "ces" -> latin("áčďéěíňóřšťúůýž"),
      "swe" -> latin("åäö"),
      "heb" -> scriptOnly("HEBREW"),
      "bul" -> cyr("абвгдежзийклмнопрстуфхцчшщъьюя"),
      "bel" -> cyr("абвгдеёжзійклмнопрстуўфхцчшыьэюя"),
      "slk" -> latin("áäčďéíĺľňóôŕšťúýž"),
      "hrv" -> latin("čćđšž"),
      "dan" -> latin("æøå"),
      "fin" -> latin("äöå"),
      "nob" -> latin("æøå"),
      "lit" -> latin("ąčęėįšųūž"),
      "slv" -> latin("čšž"),
      "lav" -> latin("āčēģīķļņšūž"),
      "mkd" -> cyr("абвгдѓежзѕијклљмнњопрстќуфхцчџш"),
      "sqi" -> latin("çë"),
      "est" -> latin("šžõäöü"),
      "nno" -> latin("æøå"),
      "khk" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёөү"),
      "epo" -> latin("ĉĝĥĵŝŭ"),
      "tpi" -> latin(""),
      "isl" -> latin("áðéíóúýþæö"),
      "cat" -> latin("àéèíïóòúüç"),
      "cja" -> scriptOnly("CHAM"), // Cham Eastern (no model; prefilter-only)
      "cjm" -> scriptOnly("CHAM"), // Cham Western
      // ---- breadth extension toward the reference's 188-model set ----
      // (round 2; popularity-ordered APPEND keeps existing ordinals stable
      // — relative order among the pre-existing languages is the reorder
      // contract, and these all rank below by the same approximate-speaker
      // measure within the fixture world)
      "ind" -> latin(""),                 // Indonesian
      "pes" -> (Set("ARABIC"), cps("ابپتثجچحخدذرزژسشصضطظعغفقکگلمنوهیءآأؤئة")), // Persian
      "tam" -> scriptOnly("TAMIL"),
      "tel" -> scriptOnly("TELUGU"),
      "pan" -> scriptOnly("GURMUKHI"),    // Punjabi Eastern
      "hau" -> latin("ɓɗƙƴ"),             // Hausa (boko)
      "swh" -> latin(""),                 // Swahili
      "tha" -> scriptOnly("THAI"),
      "guj" -> scriptOnly("GUJARATI"),
      "kan" -> scriptOnly("KANNADA"),
      "mal" -> scriptOnly("MALAYALAM"),
      "ori" -> scriptOnly("ORIYA"),       // Odia
      "mya" -> scriptOnly("MYANMAR"),     // Burmese
      "amh" -> scriptOnly("ETHIOPIC"),    // Amharic
      "ibo" -> latin("ịọụṅ"),             // Igbo
      "tgl" -> latin("ñ"),                // Tagalog
      "sin" -> scriptOnly("SINHALA"),
      "khm" -> scriptOnly("KHMER"),
      "som" -> latin(""),                 // Somali
      "zul" -> latin(""),                 // Zulu
      "srp" -> cyr("абвгдђежзијклљмнњопрстћуфхцчџш"), // Serbian (Cyrillic)
      "tgk" -> cyr("абвгғдеёжзиӣйклмнопрстуӯфхҳчҷшъэюяқ"), // Tajik
      "afr" -> latin("êëïôöûáéíóúèù"),    // Afrikaans
      "lao" -> scriptOnly("LAO"),
      "hye" -> scriptOnly("ARMENIAN"),    // Armenian
      "kat" -> scriptOnly("GEORGIAN"),    // Georgian
      "gle" -> latin("áéíóú"),            // Irish
      "cym" -> latin("ŵŷâêîôû"),          // Welsh
      "eus" -> latin("ñ"),                // Basque
      "div" -> scriptOnly("THAANA"),      // Dhivehi
      "bod" -> scriptOnly("TIBETAN"),     // Tibetan
      // ---- second breadth batch (round 2): Turkic/Iranic Cyrillic +
      // Arabic-script, Latin Africa/SEA/Creole, and same-script races
      // (Devanagari + Bengali + Ethiopic gain a second modeled language)
      "kir" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёңөү"),   // Kyrgyz
      "tat" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәөүһҗң"), // Tatar
      "bak" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәөүһңҡғҫҙ"), // Bashkir
      "chv" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӑӗҫӳ"),  // Chuvash
      "uig" -> (Set("ARABIC"), cps("ئابپتجچحخدرزژسشغفقكگلمنھوۇۆۈۋېىيەڭ")), // Uyghur
      "ckb" -> (Set("ARABIC"), cps("ئابپتجچحخدرڕزژسشعغفڤقكکگلڵمنهھوۆیێە")), // Kurdish Sorani
      "mlt" -> latin("ċġħżàèìòù"),        // Maltese
      "tuk" -> latin("äçöşüýžň"),         // Turkmen
      "uzn" -> latin("ʻ"),                // Uzbek (Latin, oʻ/gʻ with U+02BB)
      "ceb" -> latin(""),                 // Cebuano
      "hat" -> latin("èò"),               // Haitian Creole
      "jav" -> latin("éè"),               // Javanese (Latin)
      "sna" -> latin(""),                 // Shona
      "nya" -> latin(""),                 // Chichewa
      "kin" -> latin(""),                 // Kinyarwanda
      "wol" -> latin("ëñàéó"),            // Wolof
      "nep" -> scriptOnly("DEVANAGARI"),  // Nepali (races hin/mar)
      "asm" -> scriptOnly("BENGALI"),     // Assamese (races ben)
      "tir" -> scriptOnly("ETHIOPIC"),    // Tigrinya (races amh)
      // ---- third breadth batch: more same-script model races
      "haw" -> latin("āēīōūʻ"),           // Hawaiian (incl. ʻokina U+02BB)
      "mri" -> latin("āēīōū"),            // Māori
      "yid" -> scriptOnly("HEBREW"),      // Yiddish (races heb)
      "pnb" -> (Set("ARABIC"), cps("ابپتٹثجچحخدڈذرڑزژسشصضطظعغفقکگلمنںوہھءیےآأؤئݨلٰ")), // Punjabi Shahmukhi
      "kmr" -> latin("çêîşû"),            // Kurdish Kurmanji (Latin)
      // ---- fourth breadth batch
      "gla" -> latin("àèìòù"),            // Scottish Gaelic
      "ewe" -> latin("ɖƒɣɛɔŋʋàèìòùáéíóúãẽĩõũ"), // Ewe (incl. tone-marked vowels)
      "twi" -> latin("ɛɔ"),               // Twi (Akan)
      "bam" -> latin("ɛɔɲŋ"),             // Bambara
      "grn" -> latin("ãẽĩõũỹáéíóúʼñ"),    // Guarani
      "ton" -> latin("āēīōūʻ"),           // Tongan
      "smo" -> latin("āēīōūʻ"),           // Samoan
      "lug" -> latin(""),                 // Luganda
      "tsn" -> latin("š"),                // Setswana
      "lin" -> latin("ɛɔ"),               // Lingala
      "sun" -> latin("é"),                // Sundanese (Latin)
      "fij" -> latin(""),                 // Fijian
      "oss" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӕ"), // Ossetian
      "che" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӏ"), // Chechen
      // ---- fifth batch: fill the 2-long bitmask to its 128 capacity
      // (round 3 widens to a third word if it extends further)
      "pus" -> (Set("ARABIC"), cps("ابپتټثجچحخدډذرړزژږسشښصضطظعغفقکګلمنڼوهیيېۍئ")), // Pashto
      "snd" -> (Set("ARABIC"), cps("آابٻپڀتٿٽٺثجڄچڇحخدڌڍڏڊذرڙزسشصضطظعغفڦقڪکگڳڱلمنڻوهھءئيیے")), // Sindhi
      "iku" -> scriptOnly("CANADIAN_ABORIGINAL"), // Inuktitut
      "chr" -> scriptOnly("CHEROKEE"),
      "nqo" -> scriptOnly("NKO"),         // N'Ko
      "vai" -> scriptOnly("VAI"),
      "tzm" -> scriptOnly("TIFINAGH"),    // Tamazight
      "syr" -> scriptOnly("SYRIAC"),      // Syriac
      // ---- sixth batch: crosses into the third mask word (MaskWords
      // generalization; exercises ids >= 128)
      "que" -> latin("ñ"),                // Quechua
      "mlg" -> latin("àô"),               // Malagasy
      "sah" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёҕҥөүһ"), // Yakut
      "udm" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӥӧӵӝӟ"), // Udmurt
      "mhr" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёҥӧӱ"),   // Meadow Mari
      "sat" -> scriptOnly("OL_CHIKI"),    // Santali
      "mni" -> scriptOnly("MEETEI_MAYEK"), // Manipuri
      // ---- seventh batch (round 3): same-script model races (yue vs cmn,
      // arz vs arb, bho/mai/san vs hin/mar/nep, zsm/min vs ind, war/hil/ilo
      // vs ceb/tgl, xho/ssw vs zul, sot/nso vs tsn, run vs kin, bos vs hrv,
      // glg vs spa/por, scn vs ita, pcm/bis vs eng/tpi, tah vs haw/smo/ton,
      // kom/tyv/bua vs udm/sah/khk) plus Romance/Germanic minority
      // languages. Popularity-ordered append, same contract as prior
      // batches.
      "pcm" -> latin(""),                 // Nigerian Pidgin
      "yue" -> scriptOnly("HAN"),         // Cantonese (races cmn_Hans/Hant)
      "arz" -> (Set("ARABIC"), cps("ابتثجحخدذرزسشصضطظعغفقكلمنهويءآأؤإئةى")), // Egyptian Arabic
      "bho" -> scriptOnly("DEVANAGARI"),  // Bhojpuri
      "zsm" -> latin(""),                 // Standard Malay (races ind)
      "mai" -> scriptOnly("DEVANAGARI"),  // Maithili
      "run" -> latin(""),                 // Kirundi (races kin)
      "hil" -> latin(""),                 // Hiligaynon
      "xho" -> latin(""),                 // Xhosa (races zul)
      "ilo" -> latin(""),                 // Ilocano
      "sot" -> latin(""),                 // Southern Sotho
      "min" -> latin(""),                 // Minangkabau
      "scn" -> latin("àèìòù"),            // Sicilian
      "nso" -> latin("š"),                // Northern Sotho (Sepedi)
      "war" -> latin(""),                 // Waray (races ceb)
      "bos" -> latin("čćđšž"),            // Bosnian (Latin)
      "glg" -> latin("áéíóúüñ"),          // Galician
      "tso" -> latin(""),                 // Tsonga
      "ssw" -> latin(""),                 // Swati
      "aym" -> latin("äïüñ"),             // Aymara
      "ven" -> latin("ḓṱṋḽṅ"),            // Venda
      "oci" -> latin("àáèéíòóúç"),        // Occitan
      "fry" -> latin("âêîôûéëïäöü"),      // West Frisian
      "ltz" -> latin("éëèäöü"),           // Luxembourgish
      "bua" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёөүһ"), // Buryat
      "pap" -> latin("èòùüñáéíóú"),       // Papiamento
      "tyv" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёңөү"), // Tuvan
      "bre" -> latin("ñâêîùüéè"),         // Breton
      "kom" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӧі"),  // Komi
      "fao" -> latin("áðíóúýæø"),         // Faroese
      "tah" -> latin("āēīōū"),            // Tahitian
      "kal" -> latin(""),                 // Greenlandic
      "san" -> scriptOnly("DEVANAGARI"),  // Sanskrit
      "sme" -> latin("áčđŋšŧž"),          // Northern Sami
      "bis" -> latin(""),                 // Bislama
      "lat" -> latin(""),                 // Latin
      // ---- eighth batch (round 3): Arabic dialect cluster (apc/ary race
      // arb/arz), African + SEA Latin, Devanagari Konkani, Uralic/Mongolic
      // Cyrillic, Romance/Slavic minorities, plus script-unique
      // registrations (prefilter-only, like cja/cjm) that exercise the
      // fourth mask word and supplementary-plane scripts (ADLAM, OSAGE).
      "apc" -> (Set("ARABIC"), cps("ابتثجحخدذرزسشصضطظعغفقكلمنهويءآأؤإئةى")), // Levantine Arabic
      "ary" -> (Set("ARABIC"), cps("ابتثجحخدذرزسشصضطظعغفقكلمنهويءآأؤإئةى")), // Moroccan Arabic
      "ful" -> latin("ɓɗŋñƴ"),            // Fulfulde (Latin)
      "kab" -> latin("ɣčḍṭɛǧṛẓ"),         // Kabyle
      "bem" -> latin(""),                 // Bemba
      "luo" -> latin(""),                 // Dholuo
      "mww" -> latin(""),                 // Hmong Daw (RPA)
      "nds" -> latin("äöüß"),             // Low German
      "bcl" -> latin(""),                 // Central Bikol
      "gom" -> scriptOnly("DEVANAGARI"),  // Konkani (races hin/mar/nep/bho/mai/san)
      "ii" -> scriptOnly("YI"),           // Sichuan Yi (modeled, batch 15)
      "lis" -> scriptOnly("LISU"),        // Lisu (modeled, batch 15)
      "srd" -> latin("àèìòùáéíóú"),       // Sardinian
      "crh" -> latin("çğıñöşüâ"),         // Crimean Tatar (Latin)
      "blt" -> scriptOnly("TAI_VIET"),    // Tai Dam (modeled, batch 15)
      "ast" -> latin("ñüéáíóú"),          // Asturian
      "myv" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяё"), // Erzya
      "xal" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәһҗңөү"), // Kalmyk
      "roh" -> latin("èé"),               // Romansh
      "hsb" -> latin("ěźćčłńóřšžý"),      // Upper Sorbian
      "osa" -> scriptOnly("OSAGE"),       // Osage (modeled, batch 15)
      "bax" -> scriptOnly("BAMUM"),       // Bamum (prefilter-only)
      "ful_Adlm" -> scriptOnly("ADLAM"),  // Fulfulde (Adlam; modeled, batch 15)
      // ---- ninth batch (round 3): script VARIANTS of already-modeled
      // languages (srp_Latn, uzn_Cyrl — the reference's lang×script
      // modeling axis), historical/liturgical standards (lzh, pli),
      // Iberian + Italian regional races, French/English-lexified
      // creoles, constructed languages, and more script-unique
      // prefilter-only registrations.
      "orm" -> latin(""),                 // Oromo
      "srp_Latn" -> latin("čćđšž"),       // Serbian (Latin; ekavian markers)
      "uzn_Cyrl" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёўқғҳ"), // Uzbek (Cyrillic)
      "nap" -> latin("àèìòùé"),           // Neapolitan
      "pag" -> latin(""),                 // Pangasinan
      "mfe" -> latin(""),                 // Mauritian Creole (races hat)
      "tet" -> latin(""),                 // Tetum
      "srn" -> latin(""),                 // Sranan Tongo (races pcm/bis/tpi)
      "lzh" -> scriptOnly("HAN"),         // Classical Chinese (races cmn/yue)
      "lad" -> latin(""),                 // Ladino (races spa)
      "ina" -> latin(""),                 // Interlingua
      "arg" -> latin("áéíóúñ"),           // Aragonese
      "glv" -> latin("ç"),                // Manx
      "ido" -> latin(""),                 // Ido (races epo)
      "jbo" -> latin(""),                 // Lojban
      "pli" -> scriptOnly("DEVANAGARI"),  // Pali
      "mvf" -> scriptOnly("MONGOLIAN"),   // Mongolian script (prefilter-only)
      "ccp" -> scriptOnly("CHAKMA"),      // Chakma (modeled, batch 15)
      "ban_Bali" -> scriptOnly("BALINESE"), // Balinese script (modeled, batch 15)
      "jav_Java" -> scriptOnly("JAVANESE"), // Javanese script (modeled, batch 15)
      "khb" -> scriptOnly("NEW_TAI_LUE"), // New Tai Lue (modeled, batch 15)
      "cop" -> scriptOnly("COPTIC"),      // Coptic (prefilter-only)
      "got" -> scriptOnly("GOTHIC"),      // Gothic (prefilter-only)
      // ---- tenth batch (round 3): reaches the reference's 188-modeled
      // mark. Cyrillic minority races (rue's ы+і+є letter mix, chu's
      // archaic yus/yat letters, mrj vs mhr ӹ-shift, mdf vs myv lexical
      // splits, alt/kjh Siberian Turkic), Turkic Latin (kaa, gag),
      // Fiji Hindi (Latin-script Hindi), pam (Philippine race), fur,
      // dsb (vs hsb: systematic ź-for-dź / c-for-č shifts), plus six
      // more script-unique prefilter-only registrations.
      "hif" -> latin(""),                 // Fiji Hindi
      "rue" -> cyr("абвгґдежзиіїйклмнопрстуфхцчшщъыьюяєё"), // Rusyn
      "gag" -> latin("äçêöşüı"),          // Gagauz
      "kaa" -> latin("áǵıńóú"),           // Karakalpak (Latin)
      "pam" -> latin(""),                 // Kapampangan
      "fur" -> latin("âêîôûàèìòùç"),      // Friulian
      "alt" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёјҥӧӱ"), // Southern Altai
      "kjh" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёғіңӧӱҷ"), // Khakas
      "mdf" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяё"), // Moksha (races myv)
      "mrj" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӹӓӱӧҥ"), // Hill Mari (races mhr)
      "dsb" -> latin("ěźćčłńóřšžŕś"),     // Lower Sorbian (races hsb)
      "chu" -> cyr("абвгдежзиклмнопрстуфхцчшщъыьюяѣѥѧѩѫѭѯѱѳѵѡꙋ"), // Church Slavonic
      "syl" -> scriptOnly("SYLOTI_NAGRI"), // Sylheti (modeled, batch 15)
      "saz" -> scriptOnly("SAURASHTRA"),  // Saurashtra (prefilter-only)
      "lif" -> scriptOnly("LIMBU"),       // Limbu (prefilter-only)
      "lep" -> scriptOnly("LEPCHA"),      // Lepcha (prefilter-only)
      "bbc" -> scriptOnly("BATAK"),       // Toba Batak (prefilter-only)
      "sun_Sund" -> scriptOnly("SUNDANESE"), // Sundanese script (prefilter-only)
      // ---- eleventh batch (round 3): Germanic/Romance/Slavic minority
      // languages with well-documented distinctive orthographies (sco vs
      // eng, gsw vs deu/nds, szl/csb vs pol, wln vs fra, vec/pms vs
      // ita/scn/nap, cos vs ita/scn/srd, rup vs ron, mwl vs por/glg),
      // the constructed Volapük (races epo/ido/ina on popularity only —
      // vocabulary is disjoint), and the Caucasus + Kipchak Cyrillic
      // cluster (abk/kbd/ava/lez distinctive palochka/hook letters;
      // kum/krc race each other and the Turkic Cyrillic block on
      // vocabulary alone).
      "sco" -> latin(""),                 // Scots
      "kbd" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӏ"), // Kabardian
      "ava" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӏ"), // Avar
      "kum" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяё"),  // Kumyk
      "krc" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяё"),  // Karachay-Balkar
      "lez" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёӏ"), // Lezgian
      "abk" -> cyr("абвгӷдеӡжзиклмнопԥрстҭуфхҳцҵчҷҽҿшыҩџьәқҟ"), // Abkhaz
      "gsw" -> latin("äöü"),              // Swiss German (Alemannic)
      "vec" -> latin("łàèéìòóù"),         // Venetian
      "szl" -> latin("ąćęłńóśźżŏōô"),     // Silesian
      "cos" -> latin("àèìòù"),            // Corsican
      "pms" -> latin("ëàèéìòóù"),         // Piedmontese
      "wln" -> latin("åâêîôûéèç"),        // Walloon
      "lim" -> latin("äöüéè"),            // Limburgish
      "csb" -> latin("ąãëòóôùćłńśźżé"),   // Kashubian
      "rup" -> latin("ãâ"),               // Aromanian
      "mwl" -> latin("áéíóúâêôãõç"),      // Mirandese
      "cor" -> latin(""),                 // Cornish
      "vol" -> latin("äöü"),              // Volapük
      // ---- twelfth batch (round 3): script-unique prefilter-only
      // registrations (single-candidate scripts, detected through the
      // O6 shortcut like cja/ii/osa). Five live in supplementary
      // planes (HANIFI_ROHINGYA, SORA_SOMPENG, BASSA_VAH, WARANG_CITI,
      // MASARAM_GONDI, MENDE_KIKAKUI, MIAO, NYIAKENG_PUACHUE_HMONG)
      // and exercise the non-BMP mask fallback path.
      "rhg" -> scriptOnly("HANIFI_ROHINGYA"), // Rohingya
      "bug" -> scriptOnly("BUGINESE"),    // Buginese (Lontara)
      "hmd" -> scriptOnly("MIAO"),        // A-Hmao (Pollard)
      "hnj" -> scriptOnly("NYIAKENG_PUACHUE_HMONG"), // Hmong Njua
      "kyu" -> scriptOnly("KAYAH_LI"),    // Western Kayah
      "rej" -> scriptOnly("REJANG"),
      "srb" -> scriptOnly("SORA_SOMPENG"), // Sora
      "bsq" -> scriptOnly("BASSA_VAH"),   // Bassa
      "hoc" -> scriptOnly("WARANG_CITI"), // Ho
      "gon" -> scriptOnly("MASARAM_GONDI"), // Gondi
      "men_Mend" -> scriptOnly("MENDE_KIKAKUI"), // Mende
      "nod" -> scriptOnly("TAI_THAM"),    // Northern Thai (Lanna)
      "tdd" -> scriptOnly("TAI_LE"),      // Tai Nüa
      "bku" -> scriptOnly("BUHID"),
      "hnn" -> scriptOnly("HANUNOO"),
      "tbw" -> scriptOnly("TAGBANWA"),
      "tgl_Tglg" -> scriptOnly("TAGALOG"), // Tagalog (Baybayin)
      // ---- thirteenth batch (round 3): lang×script VARIANTS in SHARED
      // scripts — the direct analog of the reference's "158 scripts with
      // no models" bucket (README.md:6): publicly documented secondary
      // scripts of already-modeled languages (kaz/kir/uzn Arabic in
      // Xinjiang/Afghanistan, uig/tuk/kmr/aze/kaa/crh Cyrillic, tat/aze
      // Latin counterparts, bos Cyrillic, snd/kas/sat Devanagari, mni
      // Bengali script, chu Glagolitic), prefilter-only NEW languages in
      // shared scripts (Kashmiri, the Wu/Min Nan/Hakka HAN races), and
      // three liturgical script-unique registrations (Samaritan, Mandaic,
      // Avestan). No models: they join candidate sets through the
      // prefilter exactly like the reference's no-model ScriptLanguages
      // and rank at −∞ next to modeled same-script languages.
      "wuu" -> scriptOnly("HAN"),         // Wu Chinese
      "nan" -> scriptOnly("HAN"),         // Min Nan
      "hak" -> scriptOnly("HAN"),         // Hakka
      "kas" -> scriptOnly("ARABIC"),      // Kashmiri (Perso-Arabic)
      "kaz_Arab" -> scriptOnly("ARABIC"), // Kazakh (Arabic; Xinjiang)
      "kir_Arab" -> scriptOnly("ARABIC"), // Kyrgyz (Arabic; Xinjiang)
      "uzn_Arab" -> scriptOnly("ARABIC"), // Uzbek (Arabic; Afghanistan)
      "aze_Arab" -> scriptOnly("ARABIC"), // Azerbaijani (Arabic; Iran)
      "uig_Cyrl" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёғқңһөүҗә"), // Uyghur (Cyrillic)
      "aze_Cyrl" -> cyr("абвгдежзијклмнопрстуфхчшығәҝөүһҹ"), // Azerbaijani (Cyrillic)
      "tuk_Cyrl" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәҗңөүү"), // Turkmen (Cyrillic)
      "kmr_Cyrl" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәөһҗ"), // Kurmanji (Cyrillic)
      "kaa_Cyrl" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяёәғқңөүһўҳ"), // Karakalpak (Cyrillic)
      "crh_Cyrl" -> cyr("абвгдежзийклмнопрстуфхцчшщъыьэюяё"), // Crimean Tatar (Cyrillic)
      "bos_Cyrl" -> cyr("абвгдђежзијклљмнњопрстћуфхцчџш"), // Bosnian (Cyrillic)
      "tat_Latn" -> latin("äçğıñöşü"),    // Tatar (Latin, Zamanälif)
      "snd_Deva" -> scriptOnly("DEVANAGARI"), // Sindhi (Devanagari; India)
      "kas_Deva" -> scriptOnly("DEVANAGARI"), // Kashmiri (Devanagari)
      "sat_Deva" -> scriptOnly("DEVANAGARI"), // Santali (Devanagari)
      "mni_Beng" -> scriptOnly("BENGALI"), // Manipuri (Bengali script)
      "chu_Glag" -> scriptOnly("GLAGOLITIC"), // Church Slavonic (Glagolitic)
      "smp" -> scriptOnly("SAMARITAN"),   // Samaritan
      "mid" -> scriptOnly("MANDAIC"),     // Mandaic
      "ave" -> scriptOnly("AVESTAN"),     // Avestan
      // ---- fourteenth batch (round 3): script-unique registrations that
      // bring the registry to exactly 346 — count parity with the
      // reference's 346 ScriptLanguage variants (reference: src/lib.rs:3).
      // All prefilter-only (the reference's "scripts with no models"
      // bucket): modern minority scripts (Mro, Pau Cin Hau, Wancho,
      // Gunjala Gondi, Pahawh Hmong, Medefaidrin), secondary scripts of
      // already-modeled languages (Deseret/Shavian English, Yezidi
      // Kurmanji, Soyombo/Zanabazar Mongolian, Multani Saraiki), historic
      // Indic scripts (Brahmi, Kharoshthi, Grantha, Siddham, Nandinagari,
      // Bhaiksuki, Tirhuta, Modi, Sharada, Takri, Dogra, Khojki,
      // Khudawadi), and epigraphic/liturgical standards with unambiguous
      // primary languages (Tangut, Khitan, Old Turkic, Sogdian,
      // Chorasmian, Pahlavi/Parthian/Manichaean, Ogham, Runic,
      // Old Italic, Old Hungarian, Elbasan, Caucasian Albanian,
      // Old Permic, Old Persian, Ugaritic, Phoenician, Cuneiform,
      // Egyptian hieroglyphs). Nearly all live in supplementary planes,
      // exercising the non-BMP mask fallback; each is reachable only via
      // the single-candidate O6 shortcut, so candidate sets of every
      // previously registered language are unchanged.
      "mro" -> scriptOnly("MRO"), // Mru
      "ctd" -> scriptOnly("PAU_CIN_HAU"), // Tedim Chin (Pau Cin Hau)
      "nnp" -> scriptOnly("WANCHO"), // Wancho
      "wsg" -> scriptOnly("GUNJALA_GONDI"), // Adilabad Gondi
      "hmn_Hmng" -> scriptOnly("PAHAWH_HMONG"), // Hmong (Pahawh)
      "dmf" -> scriptOnly("MEDEFAIDRIN"), // Medefaidrin
      "mak_Maka" -> scriptOnly("MAKASAR"), // Makasar (old script)
      "aho" -> scriptOnly("AHOM"), // Ahom
      "new_Newa" -> scriptOnly("NEWA"), // Newar (Prachalit)
      "div_Diak" -> scriptOnly("DIVES_AKURU"), // Dhivehi (Dives Akuru)
      "skr_Mult" -> scriptOnly("MULTANI"), // Saraiki (Multani)
      "kmr_Yezi" -> scriptOnly("YEZIDI"), // Kurmanji (Yezidi)
      "eng_Dsrt" -> scriptOnly("DESERET"), // English (Deseret)
      "eng_Shaw" -> scriptOnly("SHAVIAN"), // English (Shavian)
      "san_Brah" -> scriptOnly("BRAHMI"), // Sanskrit/Prakrit (Brahmi)
      "pgd" -> scriptOnly("KHAROSHTHI"), // Gandhari (Kharoshthi)
      "san_Gran" -> scriptOnly("GRANTHA"), // Sanskrit (Grantha)
      "san_Sidd" -> scriptOnly("SIDDHAM"), // Sanskrit (Siddham)
      "san_Nand" -> scriptOnly("NANDINAGARI"), // Sanskrit (Nandinagari)
      "san_Bhks" -> scriptOnly("BHAIKSUKI"), // Sanskrit (Bhaiksuki)
      "mai_Tirh" -> scriptOnly("TIRHUTA"), // Maithili (Tirhuta)
      "mar_Modi" -> scriptOnly("MODI"), // Marathi (Modi)
      "kas_Shrd" -> scriptOnly("SHARADA"), // Kashmiri (Sharada)
      "doi_Takr" -> scriptOnly("TAKRI"), // Dogri (Takri)
      "doi_Dogr" -> scriptOnly("DOGRA"), // Dogri (Dogra)
      "snd_Khoj" -> scriptOnly("KHOJKI"), // Sindhi (Khojki)
      "snd_Sind" -> scriptOnly("KHUDAWADI"), // Sindhi (Khudawadi)
      "txg" -> scriptOnly("TANGUT"), // Tangut
      "zkt" -> scriptOnly("KHITAN_SMALL_SCRIPT"), // Khitan
      "xzh" -> scriptOnly("MARCHEN"), // Zhang-Zhung (Marchen)
      "khk_Soyo" -> scriptOnly("SOYOMBO"), // Mongolian (Soyombo)
      "khk_Zanb" -> scriptOnly("ZANABAZAR_SQUARE"), // Mongolian (Zanabazar Square)
      "otk" -> scriptOnly("OLD_TURKIC"), // Old Turkic (Orkhon)
      "sog" -> scriptOnly("SOGDIAN"), // Sogdian
      "xco" -> scriptOnly("CHORASMIAN"), // Chorasmian
      "egy" -> scriptOnly("EGYPTIAN_HIEROGLYPHS"), // Egyptian
      "pal" -> scriptOnly("INSCRIPTIONAL_PAHLAVI"), // Middle Persian (Pahlavi)
      "pal_Phlp" -> scriptOnly("PSALTER_PAHLAVI"), // Middle Persian (Psalter)
      "xpr" -> scriptOnly("INSCRIPTIONAL_PARTHIAN"), // Parthian
      "xmn" -> scriptOnly("MANICHAEAN"), // Manichaean Middle Persian
      "sga_Ogam" -> scriptOnly("OGHAM"), // Old Irish (Ogham)
      "non_Runr" -> scriptOnly("RUNIC"), // Old Norse (Runic)
      "ett" -> scriptOnly("OLD_ITALIC"), // Etruscan
      "hun_Hung" -> scriptOnly("OLD_HUNGARIAN"), // Hungarian (Rovas)
      "sqi_Elba" -> scriptOnly("ELBASAN"), // Albanian (Elbasan)
      "xag" -> scriptOnly("CAUCASIAN_ALBANIAN"), // Aghwan (Caucasian Albanian)
      "kom_Perm" -> scriptOnly("OLD_PERMIC"), // Komi (Old Permic)
      "peo" -> scriptOnly("OLD_PERSIAN"), // Old Persian
      "uga" -> scriptOnly("UGARITIC"), // Ugaritic
      "phn" -> scriptOnly("PHOENICIAN"), // Phoenician
      "akk" -> scriptOnly("CUNEIFORM") // Akkadian
    )
    defs.zipWithIndex.map { case ((code, (scripts, alphabet)), i) =>
      Lang(i, code, scripts, alphabet)
    }
  }

  val count: Int = all.size
  private val byCode: Map[String, Lang] = all.map(l => l.code -> l).toMap
  def apply(code: String): Lang = byCode(code)
  def id(code: String): Int = byCode(code).id
  def code(id: Int): String = all(id).code

  /** Unicode script name of a code point (JDK data). */
  def scriptOf(cp: Int): String =
    Character.UnicodeScript.of(cp).name

  // Membership tables, precomputed for the hot loop ------------------------
  // Per-code-point membership is an N-Long bitmask (bit i of word i/64 =
  // language id i belongs); N = MaskWords grows with the registry (the
  // two-word mask filled at 128 languages in round 2). Direct BMP tables
  // (N × 65536 longs, built once per JVM) make the per-char prefilter N
  // array loads — the Spark-scale answer to calling
  // Character.UnicodeScript + Set.contains per char per language.

  /** number of 64-bit mask words covering the registry */
  final val MaskWords: Int = (count + 63) >> 6

  private def computeMaskWord(cp: Int, word: Int): Long = {
    var mask = 0L
    val script = scriptOf(cp)
    val lo = word * 64
    val hi = math.min(count, lo + 64)
    var i = lo
    while (i < hi) {
      val l = all(i)
      val member =
        if (l.alphabet.nonEmpty) l.alphabet.contains(cp)
        else l.scripts.contains(script)
      if (member) mask |= (1L << (i - lo))
      i += 1
    }
    mask
  }

  // cp-MAJOR flat layout: the MaskWords words of one code point are
  // adjacent (`bmpMasks(cp*MaskWords + w)`), so the per-char prefilter
  // loop touches ONE cache line per char instead of MaskWords separate
  // 512 KB word-major tables (6 likely-missing lines per char at the
  // 346-entry registry).
  private lazy val bmpMasks: Array[Long] = {
    val t = new Array[Long](0x10000 * MaskWords)
    var cp = 0
    while (cp < 0x10000) {
      if (!Character.isSurrogate(cp.toChar) && Character.isLetter(cp)) {
        var w = 0
        while (w < MaskWords) { t(cp * MaskWords + w) = computeMaskWord(cp, w); w += 1 }
      }
      cp += 1
    }
    t
  }

  // Supplementary planes (cp >= 0x10000): 30+ registered scripts live
  // there (Adlam, Osage, Tangut, Pahawh Hmong, the batch-14 historic
  // scripts …). Computing the mask per char would be O(registry) with a
  // Character.UnicodeScript.of call inside the prefilter hot loop — ~346
  // set probes per character of e.g. Adlam crawl text. Full tabulation
  // would be 1M cps × MaskWords × 8 B ≈ 50 MB, so cache per 256-cp BLOCK
  // on first touch (letters cluster in blocks; a real corpus touches a
  // handful → a few KB). Lock-free publish via AtomicReferenceArray:
  // duplicate first-touch computation is benign (same value), then every
  // subsequent char is one volatile read + array load, like the BMP path.
  private final val SuppBlocks = (0x110000 - 0x10000) >> 8
  private lazy val suppMasks =
    new java.util.concurrent.atomic.AtomicReferenceArray[Array[Long]](SuppBlocks)

  /** One cached block: 256 cps × MaskWords longs, cp-major like the BMP
    * table (all words of one cp computed and published together).
    */
  private def suppBlock(cp: Int): Array[Long] = {
    val b = (cp - 0x10000) >> 8
    val cached = suppMasks.get(b)
    if (cached != null) cached
    else {
      val t = new Array[Long](256 * MaskWords)
      val base = 0x10000 + (b << 8)
      var i = 0
      while (i < 256) {
        val c = base + i
        if (Character.isLetter(c)) {
          var w = 0
          while (w < MaskWords) { t(i * MaskWords + w) = computeMaskWord(c, w); w += 1 }
        }
        i += 1
      }
      suppMasks.compareAndSet(b, null, t)
      suppMasks.get(b)
    }
  }

  /** Language-membership bitmask word `w` (ids 64w .. 64w+63) of a code
    * point.
    */
  @inline def maskWordOf(cp: Int, w: Int): Long =
    if (cp < 0x10000) bmpMasks(cp * MaskWords + w)
    else if (cp < 0x110000) suppBlock(cp)((cp & 0xFF) * MaskWords + w)
    else 0L

  // Row access for hot loops that read ALL MaskWords words of one cp:
  // one bounds-checked array + base pair instead of MaskWords dispatches.
  /** backing storage holding cp's mask row (valid for cp < 0x110000) */
  @inline def maskRowArray(cp: Int): Array[Long] =
    if (cp < 0x10000) bmpMasks else suppBlock(cp)
  /** base index of cp's row within maskRowArray(cp) */
  @inline def maskRowBase(cp: Int): Int =
    if (cp < 0x10000) cp * MaskWords else (cp & 0xFF) * MaskWords

  /** True iff code point `cp` belongs to language `langId`'s orthography:
    * explicit-alphabet langs check the alphabet set; script-only langs check
    * the Unicode script. Mirrors alphabet_detector's `Word.langs_cnt`
    * semantics as used at reference: train/src/writer.rs:47-52 and
    * src/detector/mod.rs:235.
    */
  def belongs(langId: Int, cp: Int): Boolean =
    ((maskWordOf(cp, langId >> 6) >>> (langId & 63)) & 1L) == 1L
}
