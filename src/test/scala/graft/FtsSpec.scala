package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Fts

class FtsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox"),
    (2L, "the lazy dog sleeps"),
    (3L, "quick quick quick fox runs"),
    (4L, "a brown dog and a brown fox"),
    (5L, "nothing relevant here")
  ).toDF("doc_id", "text")

  private def buildTmpIndex(): String = {
    val dir = Files.createTempDirectory("fts_idx_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir)
    dir
  }

  test("storePositions=false: identical scores, no positions, phrase fails fast") {
    import graft.operators.FtsConfig
    val withPos = buildTmpIndex()
    val noPos = Files.createTempDirectory("fts_nopos_").toString
    Fts.buildIndex(corpus, "doc_id", "text", noPos,
      config = FtsConfig(storePositions = false))
    // postings carry no positions column at all
    assert(!spark.read.parquet(s"$noPos/postings").columns.contains("positions"))
    // match / fuzzy / wand scoring never needed positions — identical output
    val a = Fts.matchQuery(spark, withPos, Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    val b = Fts.matchQuery(spark, noPos, Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    assert(a == b, s"$a vs $b")
    val fz = Fts.fuzzyQuery(spark, noPos, Seq("quicc"), 1, 0, 5)
      .as[(Long, Double)].collect().toSeq
    assert(fz.map(_._1) == Fts.fuzzyQuery(spark, withPos, Seq("quicc"), 1, 0, 5)
      .as[(Long, Double)].collect().toSeq.map(_._1))
    // phrase needs positions: clear refusal, never wrong results
    val e = intercept[IllegalArgumentException] {
      Fts.phraseQuery(spark, noPos, Seq("brown", "fox")).collect()
    }
    assert(e.getMessage.contains("storePositions"), e.getMessage)
    // incremental maintenance honors the stored config (no mixed schema)
    Fts.optimizeIndex(Seq((6L, "another quick fox")).toDF("doc_id", "text"),
      "doc_id", "text", noPos)
    assert(!spark.read.parquet(s"$noPos/postings").columns.contains("positions"))
    val after = Fts.matchQuery(spark, noPos, Seq("quick", "fox"), 6)
      .as[(Long, Double)].collect().toSeq
    assert(after.map(_._1).contains(6L))
  }

  test("match query ranks higher tf first; indexed == flat") {
    val idx = buildTmpIndex()
    val indexed = Fts.matchQuery(spark, idx, Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    val flat = Fts.matchFlat(corpus, "doc_id", "text", Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    assert(indexed.map(_._1) == flat.map(_._1))
    indexed.zip(flat).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    assert(indexed.head._1 == 3L) // tf(quick)=3 dominates
    assert(!indexed.map(_._1).contains(5L))
  }

  test("allowedDocs prefilter: true top-k of the matching docs only") {
    val idx = buildTmpIndex()
    // unfiltered top hit for quick/fox is doc 3; restricting to even ids
    // must yield the true ranking over {2, 4} — not a post-filtered cut
    val allowed = Seq(2L, 4L).toDF("doc_id")
    val filtered = Fts.matchQuery(spark, idx, Seq("quick", "fox"), 5,
        allowedDocs = Some(allowed))
      .as[(Long, Double)].collect().toSeq
    assert(filtered.map(_._1) == Seq(4L), filtered.toString) // doc 2 has no hit
    val exhaustive = Fts.matchQuery(spark, idx, Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(filtered.head._2 - exhaustive(4L)) < 1e-12,
      "prefilter must not change BM25 scores")
    // the column name of the allowed frame is irrelevant (first col is id)
    val renamed = Seq(3L).toDF("whatever")
    val one = Fts.matchQuery(spark, idx, Seq("quick"), 5, Some(renamed))
      .as[(Long, Double)].collect().toSeq
    assert(one.map(_._1) == Seq(3L), one.toString)
  }

  test("buildForTable commits the FTS index into the manifest inventory") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("fts_tbl_").toString + "/t"
    GraftTable.write(corpus, t, "overwrite")
    Fts.buildForTable(spark, t, "doc_id", "text")
    val m = GraftTable.loadManifest(spark, t)
    assert(m.indicesAuthoritative)
    assert(m.indices.map(e => (e.name, e.indexType, e.column)) ==
      Seq(("fts_text", "FTS", "text")))
    val got = Fts.matchQuery(spark, s"$t/_indices/fts_text", Seq("quick"), 5)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got == Set(1L, 3L))
  }

  test("optimizeForTable: O(delta) append; compaction forces a rebuild; both exact") {
    import graft.format.GraftTable
    val t = Files.createTempDirectory("fts_opt_").toString + "/t"
    GraftTable.write(corpus, t, "overwrite")
    Fts.buildForTable(spark, t, "doc_id", "text")
    GraftTable.write(Seq((6L, "a sixth quick document")).toDF("doc_id", "text"), t, "append")
    assert(Fts.optimizeForTable(spark, t, "doc_id", "text") == 1L)
    assert(Fts.optimizeForTable(spark, t, "doc_id", "text") == 0L) // idempotent
    val idx = s"$t/_indices/fts_text"
    val got = Fts.matchQuery(spark, idx, Seq("quick"), 6)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got == Set(1L, 3L, 6L))
    // compaction retires covered fragments -> rebuild path, still exact
    GraftTable.delete(spark, t, "doc_id = 3")
    GraftTable.compact(spark, t)
    Fts.optimizeForTable(spark, t, "doc_id", "text")
    val after = Fts.matchQuery(spark, idx, Seq("quick"), 6)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(after == Set(1L, 6L), s"deleted doc resurfaced or fresh lost: $after")
  }

  test("phrase query requires adjacency") {
    val idx = buildTmpIndex()
    val got = Fts.phraseQuery(spark, idx, Seq("quick", "brown")).as[Long].collect().toSet
    assert(got == Set(1L)) // only doc 1 has "quick brown" adjacent
    val rev = Fts.phraseQuery(spark, idx, Seq("brown", "fox")).as[Long].collect().toSet
    assert(rev == Set(1L, 4L))
  }

  test("three-term phrase") {
    val idx = buildTmpIndex()
    val got = Fts.phraseQuery(spark, idx, Seq("the", "quick", "brown")).as[Long].collect().toSet
    assert(got == Set(1L))
  }

  test("boolean: must + should + mustNot") {
    val idx = buildTmpIndex()
    // must contain fox, boost brown, exclude lazy
    val got = Fts.booleanQuery(spark, idx, Seq("fox"), Seq("brown"), Seq("lazy"), 10)
      .as[(Long, Double)].collect().toSeq
    val ids = got.map(_._1).toSet
    assert(ids == Set(1L, 3L, 4L)) // 2 and 5 lack fox (must); 2 also excluded by lazy
    // results sorted by score descending
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("containsTokens column + SQL registration agree") {
    val df = corpus
    val viaCol = df.filter(Fts.containsTokens($"text", "quick fox"))
      .select("doc_id").as[Long].collect().toSet
    assert(viaCol == Set(1L, 3L))
    Fts.registerSql(spark)
    df.createOrReplaceTempView("fts_corpus")
    val viaSql = spark.sql(
      "SELECT doc_id FROM fts_corpus WHERE contains_tokens(text, 'quick fox')")
      .as[Long].collect().toSet
    assert(viaSql == viaCol)
  }

  test("tokenizer lowercases and splits punctuation") {
    val toks = Seq((1L, "Hello, World! FOO-bar 42"))
      .toDF("id", "t")
      .select(Fts.tokenize($"t")).as[Seq[String]].head()
    assert(toks == Seq("hello", "world", "foo", "bar", "42"))
  }

  test("phrase slop allows bounded gaps, keeps order") {
    val idx = buildTmpIndex()
    // "quick brown" with one word between: doc 1 is "the quick brown fox" —
    // "quick fox" are 2 apart there; slop=1 matches, slop=0 does not
    assert(Fts.phraseQuery(spark, idx, Seq("quick", "fox"), slop = 0)
      .as[Long].collect().toSet == Set(3L)) // "quick fox" adjacent only in doc 3
    assert(Fts.phraseQuery(spark, idx, Seq("quick", "fox"), slop = 1)
      .as[Long].collect().toSet == Set(1L, 3L)) // gap of 1 admits doc 1
    // order still enforced: "fox quick" never matches doc 1
    assert(Fts.phraseQuery(spark, idx, Seq("fox", "quick"), slop = 1)
      .as[Long].collect().toSet == Set.empty[Long])
  }

  test("Porter stemmer matches the published sample vocabulary") {
    import graft.functions.PorterStemmer.stem
    // the algorithm's public demonstration vocabulary (Porter 1980 §"the
    // algorithm" examples + the author's sample input/output pairs)
    val fixture = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat", "feed" -> "feed",
      "matting" -> "mat", "mating" -> "mate", "meeting" -> "meet",
      "milling" -> "mill", "messing" -> "mess", "meetings" -> "meet",
      "relational" -> "relat", "conditional" -> "condit", "rational" -> "ration",
      "valenci" -> "valenc", "hesitanci" -> "hesit", "digitizer" -> "digit",
      "electriciti" -> "electr", "electrical" -> "electr", "hopeful" -> "hope",
      "goodness" -> "good", "sky" -> "sky", "happy" -> "happi",
      "plastered" -> "plaster", "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "failing" -> "fail", "filing" -> "file",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "adoption" -> "adopt", "adjustment" -> "adjust",
      "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal")
    val bad = fixture.filter { case (in, want) => stem(in) != want }
      .map { case (in, want) => s"$in -> ${stem(in)} (want $want)" }
    assert(bad.isEmpty, s"stemmer deviates on: ${bad.mkString(", ")}")
  }

  test("Snowball German stemmer: traced vocabulary (r14, VERDICT r13 #4)") {
    import graft.functions.SnowballStemmer.german
    // each pair hand-traced through the published algorithm definition
    // (snowballstem.org/algorithms/german): R1≥3/R2 regions, the three
    // suffix steps, ß→ss, umlaut removal, the niss rule, valid s/st-endings
    val fixture = Seq(
      "kinder" -> "kind", "kindern" -> "kind",          // er / ern in R1
      "häuser" -> "haus", "grüßen" -> "gruss",          // umlaut + ß
      "armes" -> "arm", "schönes" -> "schon",           // es in R1
      "verständnisse" -> "verstandnis",                 // the niss rule
      "starkst" -> "stark",                             // st after valid st-ending
      "bezirke" -> "bezirk", "aufgaben" -> "aufgab",
      "rads" -> "rad",                                  // s after valid s-ending
      "haus" -> "haus",                                 // s after u: kept
      "könig" -> "konig", "wenig" -> "wenig",           // ig NOT in R2: kept
      "vereinigung" -> "verein",                        // ung in R2, then ig in R2
      "bewegung" -> "beweg",
      "gelegenheiten" -> "geleg",                       // en, then heit, then en in R1
      "mädchen" -> "madch",
      "sammlung" -> "sammlung")                         // ung not in R2
    val bad = fixture.filter { case (in, want) => german(in) != want }
      .map { case (in, want) => s"$in -> ${german(in)} (want $want)" }
    assert(bad.isEmpty, s"german stemmer deviates on: ${bad.mkString(", ")}")
  }

  test("Snowball Spanish/French/Russian stemmers: traced vocabularies") {
    import graft.functions.SnowballStemmer.{spanish, french, russian}
    val es = Seq(
      "niños" -> "niñ", "amigas" -> "amig",             // residual / verb suffix
      "nacionalidad" -> "nacional",                     // idad in R2
      "continuación" -> "continu",                      // ación in R2
      "construyendo" -> "constru",                      // y-verb suffix after u
      "cantando" -> "cant",
      "cantándoselo" -> "cant")                         // attached pronoun + accent fix
    val fr = Seq(
      "majestueux" -> "majestu",                        // eux in R2
      "continuité" -> "continu",                        // ité in R2
      "abondamment" -> "abond",                         // amment→ant, then 2b ant
      "parlement" -> "parl",                            // ement in RV
      "donnerez" -> "don",                              // 2b erez + undouble onn
      "mangeaient" -> "mang",                           // protected I; aIent + e
      "châteaux" -> "château")                          // eaux→eau
    val ru = Seq(
      "книгами" -> "книг",                              // noun ами
      "красивая" -> "красив",                           // adjective ая
      "стремится" -> "стрем",                           // reflexive + verb ит
      "жизнь" -> "жизн",                                // noun ь
      "важность" -> "важност",                          // ост NOT in R2: kept
      "возможность" -> "возможн",                       // ость... ост in R2
      "читав" -> "чита",                                // perfective gerund в after а
      "делались" -> "дела")                             // reflexive + verb ли after а
    def check(name: String, f: String => String, fx: Seq[(String, String)]) = {
      val bad = fx.filter { case (in, want) => f(in) != want }
        .map { case (in, want) => s"$in -> ${f(in)} (want $want)" }
      assert(bad.isEmpty, s"$name stemmer deviates on: ${bad.mkString(", ")}")
    }
    check("spanish", spanish, es)
    check("french", french, fr)
    check("russian", russian, ru)
  }

  test("Snowball Italian/Portuguese stemmers: traced vocabularies (r14)") {
    import graft.functions.SnowballStemmer.{italian, portuguese}
    val it = Seq(
      "abbandonata" -> "abbandon", "abbandonati" -> "abbandon", // verb ata/ati
      "pronto" -> "pront", "libri" -> "libr",                   // final-vowel step
      "felicità" -> "felic",                                    // ità in R2
      "mangiando" -> "mang",                                    // ando + vowel + i
      "ragione" -> "ragion",
      "mangiarlo" -> "mang",                                    // pronoun after ar → e
      "banchi" -> "banc")                                       // final i, then ch → c
    val pt = Seq(
      "gostou" -> "gost",                                       // verb ou
      "nacionalidade" -> "nacional",                            // idade in R2
      "informações" -> "inform",                                // nasal prelude + ações
      "comparação" -> "compar",
      "perguntar" -> "pergunt",                                 // verb ar in RV
      "menina" -> "menin",                                      // residual a
      "doce" -> "doc")                                          // step-5 final e
    def check(name: String, f: String => String, fx: Seq[(String, String)]) = {
      val bad = fx.filter { case (in, want) => f(in) != want }
        .map { case (in, want) => s"$in -> ${f(in)} (want $want)" }
      assert(bad.isEmpty, s"$name stemmer deviates on: ${bad.mkString(", ")}")
    }
    check("italian", italian, it)
    check("portuguese", portuguese, pt)
  }

  test("Snowball Swedish/Norwegian/Danish stemmers: traced vocabularies (r14)") {
    import graft.functions.SnowballStemmer.{swedish, norwegian, danish}
    val sv = Seq(
      "jakten" -> "jakt", "klubbarnas" -> "klubb",      // en / arnas in R1
      "starkast" -> "stark", "flickorna" -> "flick",
      "hundens" -> "hund",                              // ens
      "friskt" -> "frisk",                              // step-2 kt trim
      "möjlig" -> "möj",                                // step-3 lig
      "beundransfullt" -> "beundransfull",              // fullt → full
      "fullt" -> "fullt")                               // suffix outside R1: kept
    val no = Seq(
      "huset" -> "hus", "bilene" -> "bil",
      "mulighetene" -> "mul",                           // hetene, then ig
      "fisks" -> "fisk",                                // s after k-not-after-vowel
      "vondt" -> "vond",                                // step-2 dt
      "lærte" -> "lært")
    val da = Seq(
      "hundene" -> "hund", "kvindens" -> "kvind",
      "venligst" -> "ven",                              // igst → ig..., then lig
      "bakker" -> "bak",                                // er, then undouble kk
      "hurtigt" -> "hurt")                              // step-2 gt trim, then ig
    def check(name: String, f: String => String, fx: Seq[(String, String)]) = {
      val bad = fx.filter { case (in, want) => f(in) != want }
        .map { case (in, want) => s"$in -> ${f(in)} (want $want)" }
      assert(bad.isEmpty, s"$name stemmer deviates on: ${bad.mkString(", ")}")
    }
    check("swedish", swedish, sv)
    check("norwegian", norwegian, no)
    check("danish", danish, da)
  }

  test("Snowball Dutch stemmer: traced vocabulary (r14)") {
    import graft.functions.SnowballStemmer.dutch
    val nl = Seq(
      "lichamelijk" -> "licham",          // lijk, then step-2 e + repeat
      "lichamelijkheden" -> "licham",     // heden→heid, heid, lijk chain
      "bedden" -> "bed",                  // en + kk/dd/tt undouble
      "lopen" -> "lop", "boten" -> "bot", // en after valid en-ending
      "boot" -> "bot",                    // step-4 vowel undouble: converges with boten
      "witte" -> "wit",                   // step-2 e + undouble
      "gemeen" -> "gemen",                // en after a vowel kept; vowel undoubles
      "uitvoering" -> "uitvoer",          // ing in R2
      "kleding" -> "kleding")             // ing NOT in R2: kept
    val bad = nl.filter { case (in, want) => dutch(in) != want }
      .map { case (in, want) => s"$in -> ${dutch(in)} (want $want)" }
    assert(bad.isEmpty, s"dutch stemmer deviates on: ${bad.mkString(", ")}")
  }

  test("Snowball Finnish/Romanian/Hungarian stemmers: traced vocabularies (r15, VERDICT r14 #3)") {
    import graft.functions.SnowballStemmer.{finnish, romanian, hungarian}
    val fi = Seq(
      "edeltäjistään" -> "edeltäj",   // the published worked example: possessive än, case stä, plural i, tidy
      "kirjat" -> "kirj", "kirjassa" -> "kirj", "kirjaan" -> "kirj",
      "taloissa" -> "talo", "talojen" -> "talo",
      "kokoko" -> "koko",             // ko particle after vowel
      "aatonaatto" -> "aatonaato",    // step 6e double consonant through vowels
      "eläkkeen" -> "eläk",           // n case + LV trim + 6e kk
      "ihmisille" -> "ihmis", "ihmiset" -> "ihmis",
      "tablen" -> "tabl", "datassa" -> "dat") // the q_fts_stemmed_fi query derivations
    val ro = Seq(
      "abilitate" -> "abil",          // step 1 combining suffix
      "creativitate" -> "creativ",    // step 2 itate in R2
      "copilului" -> "copil",         // step 0 ului
      "lucrează" -> "lucr",           // step 3 verb ează
      "lucrările" -> "lucrăr",        // step 0 ile→i, step 4 i
      "mergând" -> "merg",            // step 3 gerund ând
      "cititorului" -> "citit",       // ului, then itor→it
      "studenţi" -> "studenţ",        // step 4 final i
      "acțiunea" -> "acţiun")         // comma-below ț normalizes to ţ
    val hu = Seq(
      "babakocsit" -> "babakocs",     // case t; R1 after the cs digraph
      "babakocsival" -> "babakocs",   // instrumental val
      "házakat" -> "ház", "házban" -> "ház", "házaim" -> "ház",
      "könyvekben" -> "könyv", "könyvünk" -> "könyv",
      "fákkal" -> "fá",               // assimilated instrumental: kk undoubles
      "kutyákkal" -> "kutya",         // same + ák→a plural
      "gyerekeknek" -> "gyerek", "barátaim" -> "barát",
      "asztalokon" -> "asztal")
    def check(name: String, f: String => String, fx: Seq[(String, String)]) = {
      val bad = fx.filter { case (in, want) => f(in) != want }
        .map { case (in, want) => s"$in -> ${f(in)} (want $want)" }
      assert(bad.isEmpty, s"$name stemmer deviates on: ${bad.mkString(", ")}")
    }
    check("finnish", finnish, fi)
    check("romanian", romanian, ro)
    check("hungarian", hungarian, hu)
  }

  test("Snowball Turkish/Arabic stemmers: traced vocabularies (r15)") {
    import graft.functions.SnowballStemmer.{turkish, arabic}
    val tr = Seq(
      "kitaplar" -> "kitap",          // lAr + final devoicing p
      "kitabı" -> "kitap",            // accusative ı + b→p devoicing
      "kitaplardan" -> "kitap",       // DAn then lAr chain
      "evimizde" -> "ev",             // DA then UmUz chain
      "çocukların" -> "çocuk",        // (n)Un then lAr
      "güzelmiş" -> "güzel",          // evidential mUş (front harmony)
      "güzeldi" -> "güzel",           // past DU
      "kedisi" -> "kedi",             // (s)U possessive, buffer s after vowel
      "kediler" -> "kedi",            // lAr only: bare vowel must NOT continue
      "arabası" -> "araba",
      "gözleri" -> "göz",             // lArI
      "köpeği" -> "köpek",            // accusative + ğ→k devoicing
      "ev" -> "ev")                   // one syllable: never stemmed
    val ar = Seq(
      "الكتاب" -> "كتاب",             // definite article ال
      "والكتاب" -> "كتاب",            // conjunction + article وال
      "بالقلم" -> "قلم",              // preposition + article بال
      "المدرسة" -> "مدرس",            // article + taa marbuta
      "مدرستها" -> "مدرس",            // attached pronoun ها then ة
      "المسلمون" -> "مسلم",           // sound masculine plural ون
      "المسلمين" -> "مسلم",           // oblique plural ين converges
      "معلمات" -> "معلم",             // sound feminine plural ات
      "سيذهب" -> "يذهب",              // future س before imperfect ي
      "جميلة" -> "جميل")              // taa marbuta
    def check(name: String, f: String => String, fx: Seq[(String, String)]) = {
      val bad = fx.filter { case (in, want) => f(in) != want }
        .map { case (in, want) => s"$in -> ${f(in)} (want $want)" }
      assert(bad.isEmpty, s"$name stemmer deviates on: ${bad.mkString(", ")}")
    }
    check("turkish", turkish, tr)
    check("arabic", arabic, ar)
  }

  test("Greek/Tamil stemmers: traced vocabularies (r15)") {
    import graft.functions.SnowballStemmer.{greek, tamil}
    val el = Seq(
      "φαγιά" -> "φα",                // irregular-noun table (+ accent fold)
      "παπαδες" -> "παπαδ",           // step 2a with αδ re-append
      "γιαγιαδες" -> "γιαγ",          // step 2a exception: no re-append
      "καλυτερος" -> "καλ",           // comparative υτερος; converges with καλος
      "καλος" -> "καλ",
      "τρεχοντας" -> "τρεχ",          // participle οντας
      "γραφουμε" -> "γραφ", "γραφετε" -> "γραφ",
      "βιβλια" -> "βιβλ", "βιβλιου" -> "βιβλ", "βιβλιων" -> "βιβλ",
      "ανθρωπος" -> "ανθρωπ", "ανθρωπων" -> "ανθρωπ",
      "θαλασσες" -> "θαλασσ",
      "ομορφος" -> "ομορφ", "ομορφη" -> "ομορφ")
    val ta = Seq(
      "புத்தகங்கள்" -> "புத்தகம்", // plural + nasal sandhi: conflates with the singular
      "புத்தகம்" -> "புத்தகம்",
      "மரங்கள்" -> "மரம்",
      "வீடுகள்" -> "வீடு",
      "அவர்களோ" -> "அவர்",   // question clitic + plural chain
      "நண்பர்களுடன்" -> "நண்பர்", // case உடன் + plural chain
      "அவனும்" -> "அவன்",       // um clitic with virama restore
      "பள்ளிக்கு" -> "பள்ளி") // dative க்கு after a vowel-sign stem
    def check(name: String, f: String => String, fx: Seq[(String, String)]) = {
      val bad = fx.filter { case (in, want) => f(in) != want }
        .map { case (in, want) => s"$in -> ${f(in)} (want $want)" }
      assert(bad.isEmpty, s"$name stemmer deviates on: ${bad.mkString(", ")}")
    }
    check("greek", greek, el)
    check("tamil", tamil, ta)
  }

  test("packaged stop-word lists: per-language coverage + config round-trip (r15, VERDICT r14 #3)") {
    import graft.operators.{FtsConfig, FtsTokenizer, Fts}
    // every stemmer language ships a packaged list
    graft.functions.SnowballStemmer.Languages.foreach { lang =>
      assert(graft.functions.StopWords.forLanguage(lang).nonEmpty,
        s"no packaged stop list for $lang")
    }
    // reference semantics (r16, ADVICE r15 #1, tokenizer.rs:258-262):
    // caller stopWords REPLACE the packaged list — never union
    val cfg = FtsConfig(removeStopWords = true, language = "german",
      stopWords = Seq("zebra"))
    val eff = FtsTokenizer.effectiveStopWords(cfg)
    assert(eff == Set("zebra"),
      s"custom stop words must replace the packaged list, got $eff")
    assert(!FtsTokenizer.effectiveStopWords(
      FtsConfig(language = "german")).contains("der"),
      "packaged list must not apply without removeStopWords")
    // packaged list applies when no caller list is given
    val pkg = FtsConfig(removeStopWords = true, language = "german")
    assert(FtsTokenizer.effectiveStopWords(pkg)("der"))
    // a language without a packaged list ERRORS (reference build()
    // refusal), instead of silently filtering nothing
    val err = intercept[IllegalArgumentException] {
      FtsTokenizer.effectiveStopWords(
        FtsConfig(removeStopWords = true, language = "japanese"))
    }
    assert(err.getMessage.contains("not supported"), err.getMessage)
    // the flag survives the stored-JSON round-trip, so query-side
    // tokenization derives the same effective set as the build side
    val json = org.json4s.jackson.Serialization.write(cfg)(
      org.json4s.DefaultFormats)
    val back = Fts.parseConfig(json)
    assert(back.removeStopWords && back.language == "german" &&
      back.stopWords == Seq("zebra"))
    assert(FtsTokenizer.effectiveStopWords(back) == eff)
    // the per-row tokenizer drops the PACKAGED words under pkg config
    // (der/und/das are all in the packaged German list)
    assert(FtsTokenizer.tokens("der schnelle Zug und das Haus", pkg) ==
      Seq("schnelle", "zug", "haus"))
    // reference filter order: stemming runs BEFORE stop-word removal, so
    // stop entries match the STEMMED form ('zebra' stems from 'zebras'
    // via Porter s-removal in english)
    val stemCfg = FtsConfig(stemming = true, stopWords = Seq("zebra"))
    assert(FtsTokenizer.tokens("zebras run", stemCfg) == Seq("run"),
      "stop list must apply to stemmed tokens (stem-then-stop order)")
  }

  test("language config round-trips with the index; German query terms stem like the corpus") {
    import graft.operators.FtsConfig
    // whitespace base tokenizer: umlauts survive to the stemmer (the
    // default `simple` splitter is ASCII-alphanumeric)
    val cfg = FtsConfig(baseTokenizer = "whitespace", stemming = true,
      language = "german")
    val dir = Files.createTempDirectory("fts_de_").toString
    val deCorpus = Seq(
      (1L, "kinder spielen im haus"),
      (2L, "das kind spielt mit aufgaben"),
      (3L, "häuser und wohnungen überall")
    ).toDF("doc_id", "text")
    Fts.buildIndex(deCorpus, "doc_id", "text", dir, config = cfg)
    // stored config carries the language back to query analysis
    assert(Fts.loadConfig(spark, dir).language == "german")
    // 'kindern' (dative plural) stems to 'kind' and matches docs 1 and 2
    // ('kinder' and 'kind' both index as 'kind')
    val hits = Fts.matchQuery(spark, dir, Seq("kindern"), 5)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L, 2L), hits.toString)
    // 'häusern' stems to 'haus' and matches both surface forms
    val haus = Fts.matchQuery(spark, dir, Seq("häusern"), 5)
      .select("doc_id").as[Long].collect().toSet
    assert(haus == Set(1L, 3L), haus.toString)
  }

  test("fuzzy expansion: fuzziness 0/1/2, prefixLength 0 and pruning") {
    val idx = buildTmpIndex()
    // fuzziness 0 degenerates to exact match
    val exact = Fts.matchQuery(spark, idx, Seq("quick"), 5)
      .as[(Long, Double)].collect().toSeq
    val f0 = Fts.fuzzyQuery(spark, idx, Seq("quick"), fuzziness = 0,
      prefixLength = 0, k = 5).as[(Long, Double)].collect().toSeq
    assert(f0 == exact)
    // misspelling within distance 1, no prefix pruning (full dictionary scan)
    val f1 = Fts.fuzzyQuery(spark, idx, Seq("quik"), fuzziness = 1,
      prefixLength = 0, k = 5).as[(Long, Double)].collect().toSeq
    assert(f1 == exact)
    // distance-2 misspelling ("qck" → two insertions) needs fuzziness 2
    assert(Fts.fuzzyQuery(spark, idx, Seq("qck"), fuzziness = 1,
      prefixLength = 1, k = 5).as[(Long, Double)].collect().isEmpty)
    val f2 = Fts.fuzzyQuery(spark, idx, Seq("qck"), fuzziness = 2,
      prefixLength = 1, k = 5).as[(Long, Double)].collect().toSeq
    assert(f2 == exact)
    // prefix pruning excludes candidates that differ in the first chars
    assert(Fts.fuzzyQuery(spark, idx, Seq("buick"), fuzziness = 1,
      prefixLength = 1, k = 5).as[(Long, Double)].collect().isEmpty)
    assert(Fts.fuzzyQuery(spark, idx, Seq("buick"), fuzziness = 1,
      prefixLength = 0, k = 5).as[(Long, Double)].collect().toSeq == exact)
  }

  test("stop words change dl/avgdl/df, stopped query terms match nothing") {
    import graft.operators.FtsConfig
    val cfg = FtsConfig(stopWords = Seq("the", "a"))
    val dir = Files.createTempDirectory("fts_stop_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir, config = cfg)
    // 'the' is dropped at build AND at query analysis: no hits
    assert(Fts.matchQuery(spark, dir, Seq("the"), 5).collect().isEmpty)
    // doc lengths shrink (docs 1,2,4 contain the/a), so 'fox' scores differ
    // from the unstopped index but equal the config-aware flat path
    val plain = buildTmpIndex()
    val stopped = Fts.matchQuery(spark, dir, Seq("fox"), 5)
      .as[(Long, Double)].collect().toMap
    val unstopped = Fts.matchQuery(spark, plain, Seq("fox"), 5)
      .as[(Long, Double)].collect().toMap
    assert(stopped.keySet == unstopped.keySet)
    assert(stopped != unstopped, "stop-word dl/df change must alter BM25 scores")
    // docstats reflect the filtered token stream: doc 4 has 7 tokens, 2 are 'a'
    val dl4 = spark.read.parquet(s"$dir/docstats")
      .filter($"doc_id" === 4L).head().getDouble(1)
    assert(dl4 == 5.0, s"dl(doc 4) = $dl4, want 5.0 after dropping two 'a'")
  }

  test("matchFlat honors the index tokenizer config") {
    import graft.operators.FtsConfig
    val cfg = FtsConfig(stopWords = Seq("the", "a"), stemming = true)
    val dir = Files.createTempDirectory("fts_cfg_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir, config = cfg)
    // 'sleeps' stems to 'sleep' on both sides; flat leg must agree exactly
    val indexed = Fts.matchQuery(spark, dir, Seq("sleeps", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    val flat = Fts.matchFlat(corpus, "doc_id", "text", Seq("sleeps", "fox"), 5,
      config = cfg).as[(Long, Double)].collect().toSeq
    assert(indexed.map(_._1) == flat.map(_._1))
    indexed.zip(flat).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    // the default-config flat path would diverge (different dl and tokens)
    val wrongCfg = Fts.matchFlat(corpus, "doc_id", "text", Seq("sleeps", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    assert(wrongCfg.map(_._2) != flat.map(_._2))
  }

  test("cjk tokenizer: ideograph bigrams, lone-char unigrams, mixed Latin runs") {
    import graft.operators.{FtsConfig, FtsTokenizer}
    val cfg = FtsConfig(baseTokenizer = "cjk")
    // overlapping bigrams over a Han run
    assert(FtsTokenizer.tokens("武田信玄", cfg) == Seq("武田", "田信", "信玄"))
    // lone CJK char between non-CJK emits a unigram; Latin runs word-split
    assert(FtsTokenizer.tokens("我 like 寿司", cfg) == Seq("我", "like", "寿司"))
    // punctuation breaks runs; kana and han both bigram
    assert(FtsTokenizer.tokens("データ分析", cfg) == Seq("デー", "ータ", "タ分", "分析"))
    assert(FtsTokenizer.tokens("Spark入門!", cfg) == Seq("spark", "入門"))
    assert(FtsTokenizer.tokens("", cfg) == Nil)
  }

  test("cjk index: query terms analyzed identically to the indexed corpus") {
    import graft.operators.FtsConfig
    val cjkCorpus = Seq(
      (1L, "武田信玄は戦国大名です"),
      (2L, "徳川家康も戦国大名"),
      (3L, "Spark 入門ガイド"),
      (4L, "completely latin document")
    ).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("fts_cjk_").toString
    val cfg = FtsConfig(baseTokenizer = "cjk")
    Fts.buildIndex(cjkCorpus, "doc_id", "text", dir, config = cfg)
    // a sub-phrase of doc 1 segments into the same bigrams at query time
    val got = Fts.matchQuery(spark, dir, Seq("信玄"), 4).as[(Long, Double)].collect()
    assert(got.head._1 == 1L)
    // "戦国大名" bigrams hit docs 1 and 2; doc 2 is shorter → BM25 ranks it first
    val sengoku = Fts.matchQuery(spark, dir, Seq("戦国大名"), 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(sengoku == Set(1L, 2L))
    // Latin terms still match through the same config
    val latin = Fts.matchQuery(spark, dir, Seq("spark"), 4).as[(Long, Double)].collect()
    assert(latin.map(_._1).toSeq == Seq(3L))
    // indexed == flat under the same config (the config-aware exactness gate)
    val idxRes = Fts.matchQuery(spark, dir, Seq("大名"), 4).as[(Long, Double)].collect().toSeq
    val flatRes = Fts.matchFlat(cjkCorpus, "doc_id", "text", Seq("大名"), 4, config = cfg)
      .as[(Long, Double)].collect().toSeq
    assert(idxRes.map(_._1) == flatRes.map(_._1))
    idxRes.zip(flatRes).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
  }

  test("cjk dictionary segmentation beats bigrams on phrase precision; config round-trips") {
    import graft.operators.{Fts, FtsConfig, FtsTokenizer}
    val dict = Seq("北京大学", "北京", "大学", "戦国大名")
    val cfg = FtsConfig(baseTokenizer = "cjk", cjkDictionary = dict)
    // forward maximum matching: longest dictionary word wins; unmatched
    // stretches fall back to bigrams
    assert(FtsTokenizer.tokens("北京大学", cfg) == Seq("北京大学"))
    // の is hiragana (same CJK run): unmatched stretch bigram-falls-back
    assert(FtsTokenizer.tokens("北京の大学", cfg) == Seq("北京", "の大", "大学"))
    assert(FtsTokenizer.tokens("武田信玄", cfg) == Seq("武田", "田信", "信玄")) // no dict hit → bigrams
    val corpus = Seq(
      (1L, "北京大学は有名です"),      // contains the exact word
      (2L, "北京の大学生活と東京大学") // 北京 and 大学 separately, not 北京大学
    ).toDF("doc_id", "text")
    val dirDict = Files.createTempDirectory("fts_cjk_dict_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dirDict, config = cfg)
    // dictionary index: the phrase-word query matches ONLY doc 1
    val viaDict = Fts.matchQuery(spark, dirDict, Seq("北京大学"), 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(viaDict == Set(1L), s"dictionary segmentation should be precise: $viaDict")
    // bigram index: the same query bigram-matches doc 2 too (lower precision)
    val dirBi = Files.createTempDirectory("fts_cjk_bi_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dirBi,
      config = FtsConfig(baseTokenizer = "cjk"))
    val viaBigram = Fts.matchQuery(spark, dirBi, Seq("北京大学"), 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(viaBigram == Set(1L, 2L), s"bigrams should over-match here: $viaBigram")
    // the dictionary survives the config round-trip on disk
    assert(Fts.loadConfig(spark, dirDict).cjkDictionary == dict)
    assert(Fts.loadConfig(spark, dirBi).cjkDictionary == Nil)
  }

  test("dp segmenter reproduces jieba cut(HMM=False) where FMM diverges") {
    import graft.operators.{Fts, FtsConfig, FtsTokenizer}
    import java.nio.file.Files
    // jieba's README example: 我来到北京清华大学 → 我/来到/北京/清华大学.
    // Frequencies shaped like jieba's dict.txt (清华大学 listed, so the
    // max-probability path takes the long word over 清华+大学).
    val dict = Seq("我:1000", "来到:500", "北京:800",
      "清华大学:300", "清华:200", "大学:600")
    val dp = FtsConfig(baseTokenizer = "cjk", cjkDictionary = dict,
      cjkSegmenter = "dp")
    assert(FtsTokenizer.tokens("我来到北京清华大学", dp)
      == Seq("我", "来到", "北京", "清华大学"))
    // the classic FMM failure: greedy longest match takes 研究生 and
    // strands 命; the probability path (jieba) picks 研究/生命/科学.
    // Hand check with total=1040, logs base e:
    //   研究生(10)+命(1)+科学(400):  ln(10)+ln(1)+ln(400) = 8.29 − 3ln(1040)
    //   研究(500)+生命(120)+科学(400): ln(500)+ln(120)+ln(400) = 16.99 − 3ln(1040)
    val dict2 = Seq("研究:500", "研究生:10", "生命:120", "科学:400", "命:10")
    val dp2 = FtsConfig(baseTokenizer = "cjk", cjkDictionary = dict2,
      cjkSegmenter = "dp")
    val fmm2 = FtsConfig(baseTokenizer = "cjk", cjkDictionary = dict2)
    assert(FtsTokenizer.tokens("研究生命科学", dp2) == Seq("研究", "生命", "科学"))
    assert(FtsTokenizer.tokens("研究生命科学", fmm2).head == "研究生",
      "FMM should diverge here — that is what dp fixes")
    // OOV characters emit as singles (jieba no-HMM), never bigrams
    assert(FtsTokenizer.tokens("我爱你", dp) == Seq("我", "爱", "你"))
    // a listed word always beats its own split at equal freqs (one
    // log(f/T) factor vs two) — jieba's preference for listed long words
    val tie = FtsConfig(baseTokenizer = "cjk",
      cjkDictionary = Seq("北京:100", "北京大:100", "大学:100"),
      cjkSegmenter = "dp")
    assert(FtsTokenizer.tokens("北京大", tie) == Seq("北京大"))
    // end-to-end: the segmenter + freq dict round-trip with the index and
    // query terms segment exactly like the corpus
    val corpus = Seq((1L, "我来到北京清华大学"), (2L, "清华和大学")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("fts_cjk_dp_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir, config = dp)
    assert(Fts.loadConfig(spark, dir).cjkSegmenter == "dp")
    val hits = Fts.matchQuery(spark, dir, Seq("清华大学"), 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(hits == Set(1L), s"dp word query must hit only the exact-word doc: $hits")
  }

  test("MeCab-format CSV + matrix.def loader reproduces the published fixture segmentations (r14)") {
    import graft.operators.{DictLoader, FtsConfig, FtsTokenizer}
    import java.nio.file.Files
    // a miniature dictionary in the REAL file formats: IPADIC-shaped CSV
    // rows (surface,leftId,rightId,cost,POS1,...) with the published MeCab
    // fixture word costs, and a matrix.def (sizes line + 'prevId nextId
    // cost' rows) whose id-blocks average to the committed 7-class costs.
    // Ids: 0=BOS/EOS, 1=noun rows, 2=も(助詞), 3=の(助詞) — two distinct
    // particle context ids so the class reduction actually averages a block.
    val dir = Files.createTempDirectory("mecab_mini_")
    val csv = dir.resolve("lex.csv")
    Files.write(csv, (Seq(
      "すもも,1,1,7546,名詞,一般,*,*,*,*,すもも,スモモ,スモモ",
      "もも,1,1,7219,名詞,一般,*,*,*,*,もも,モモ,モモ",
      "うち,1,1,5796,名詞,非自立,*,*,*,*,うち,ウチ,ウチ",
      "も,2,2,4669,助詞,係助詞,*,*,*,*,も,モ,モ",
      "の,3,3,4770,助詞,連体化,*,*,*,*,の,ノ,ノ").mkString("\n"))
      .getBytes("UTF-8"))
    val conn = graft.operators.FtsTokenizer.MorphConn
    val cls = Map(0 -> 0, 1 -> 1, 2 -> 2, 3 -> 2) // ctx id -> class
    val matrix = dir.resolve("matrix.def")
    val rows = for (p <- 0 to 3; n <- 0 to 3)
      yield s"$p $n ${conn(cls(p))(cls(n))}"
    Files.write(matrix, (s"4 4" +: rows).mkString("\n").getBytes("UTF-8"))

    val (entries, loadedConn) =
      DictLoader.loadMeCab(spark, csv.toString, matrix.toString)
    // entries carry the real costs + reduced POS in the config format
    assert(entries.toSet == Set("すもも:7546:n", "もも:7219:n", "うち:5796:n",
      "も:4669:prt", "の:4770:prt"), entries.toString)
    // the id-block reduction reproduces the committed matrix exactly
    // (unlisted classes fall back to the committed defaults)
    assert(loadedConn == conn.map(_.toSeq).toSeq, loadedConn.toString)
    // and the loaded dictionary drives the SAME published segmentation as
    // the hand-written fixture entries
    val cfg = FtsConfig(baseTokenizer = "cjk", cjkDictionary = entries,
      cjkSegmenter = "morph", morphConnCosts = loadedConn, lowerCase = false)
    assert(FtsTokenizer.tokens("すもももももももものうち", cfg)
      == Seq("すもも", "も", "もも", "も", "もも", "の", "うち"))
  }

  test("jieba dict.txt loader feeds the dp segmenter (r14)") {
    import graft.operators.{DictLoader, FtsConfig, FtsTokenizer}
    import java.nio.file.Files
    // jieba's published dict.txt format: word freq pos
    val f = Files.createTempDirectory("jieba_mini_").resolve("dict.txt")
    Files.write(f, Seq(
      "北京 34488 ns",
      "大学 29429 n",
      "北京大学 2053 nt",
      "生 3 n").mkString("\n").getBytes("UTF-8"))
    val entries = DictLoader.loadJieba(spark, f.toString)
    assert(entries == Seq("北京:34488", "大学:29429", "北京大学:2053", "生:3"),
      entries.toString)
    val cfg = FtsConfig(baseTokenizer = "cjk", cjkDictionary = entries,
      cjkSegmenter = "dp", lowerCase = false)
    // jieba cut(HMM=False) parity with these real dict.txt frequencies:
    // the 北京+大学 split outscores the rarer listed compound 北京大学
    // (ln 34488 + ln 29429 − lnT > ln 2053), so 北京大学生 → 北京/大学/生
    assert(FtsTokenizer.tokens("北京大学生", cfg) == Seq("北京", "大学", "生"))
  }

  test("dictionary home: named resolution through spark.graft.fts.dict.home (r15, VERDICT r14 #5)") {
    import graft.operators.{DictLoader, Fts, FtsConfig}
    import java.nio.file.Files
    val home = Files.createTempDirectory("dict_home_")
    // <home>/minijieba/dict.txt
    Files.createDirectory(home.resolve("minijieba"))
    Files.write(home.resolve("minijieba/dict.txt"), Seq(
      "北京 34488 ns", "大学 29429 n", "北京大学 2053 nt", "生 3 n")
      .mkString("\n").getBytes("UTF-8"))
    // <home>/miniipadic/lex.csv + matrix.def (two CSVs: the multi-file
    // IPADIC layout — class reduction must span both)
    Files.createDirectory(home.resolve("miniipadic"))
    Files.write(home.resolve("miniipadic/lex_a.csv"), Seq(
      "すもも,1,1,7546,名詞,一般,*,*,*,*,すもも,スモモ,スモモ",
      "もも,1,1,7219,名詞,一般,*,*,*,*,もも,モモ,モモ",
      "うち,1,1,5796,名詞,非自立,*,*,*,*,うち,ウチ,ウチ")
      .mkString("\n").getBytes("UTF-8"))
    Files.write(home.resolve("miniipadic/lex_b.csv"), Seq(
      "も,2,2,4669,助詞,係助詞,*,*,*,*,も,モ,モ",
      "の,3,3,4770,助詞,連体化,*,*,*,*,の,ノ,ノ")
      .mkString("\n").getBytes("UTF-8"))
    val conn = graft.operators.FtsTokenizer.MorphConn
    val cls = Map(0 -> 0, 1 -> 1, 2 -> 2, 3 -> 2)
    val rows = for (p <- 0 to 3; n <- 0 to 3)
      yield s"$p $n ${conn(cls(p))(cls(n))}"
    Files.write(home.resolve("miniipadic/matrix.def"),
      ("4 4" +: rows).mkString("\n").getBytes("UTF-8"))

    // no home configured: clear refusal
    spark.conf.unset(DictLoader.DictHomeKey)
    val e0 = intercept[IllegalArgumentException] {
      DictLoader.loadNamed(spark, "minijieba")
    }
    assert(e0.getMessage.contains(DictLoader.DictHomeKey), e0.getMessage)
    spark.conf.set(DictLoader.DictHomeKey, home.toString)
    try {
      // unknown name: clear refusal naming the home
      val e1 = intercept[IllegalArgumentException] {
        DictLoader.loadNamed(spark, "nosuchdict")
      }
      assert(e1.getMessage.contains("nosuchdict"), e1.getMessage)
      // jieba resolution by name
      val (jentries, jconn) = DictLoader.loadNamed(spark, "minijieba")
      assert(jentries == Seq("北京:34488", "大学:29429", "北京大学:2053", "生:3"))
      assert(jconn.isEmpty)
      // MeCab resolution by name: entries span both CSVs, matrix reduces
      val (mentries, mconn) = DictLoader.loadNamed(spark, "miniipadic")
      assert(mentries.toSet == Set("すもも:7546:n", "もも:7219:n",
        "うち:5796:n", "も:4669:prt", "の:4770:prt"), mentries.toString)
      assert(mconn == conn.map(_.toSeq).toSeq, mconn.toString)
      // build-time resolution: the index built with cjkDictionaryName
      // stores the RESOLVED entries, so a query session without the home
      // conf tokenizes identically
      import spark.implicits._
      val corpus = Seq((1L, "北京大学生"), (2L, "大学")).toDF("doc_id", "text")
      val dir = Files.createTempDirectory("fts_named_").toString
      Fts.buildIndex(corpus, "doc_id", "text", dir,
        config = FtsConfig(baseTokenizer = "cjk", cjkSegmenter = "dp",
          cjkDictionaryName = "minijieba", lowerCase = false))
      val stored = Fts.loadConfig(spark, dir)
      assert(stored.cjkDictionary == jentries, "stored config must carry resolved entries")
      spark.conf.unset(DictLoader.DictHomeKey) // query side needs no home
      val hits = Fts.matchQuery(spark, dir, Seq("大学"), 4)
        .as[(Long, Double)].collect().map(_._1).toSet
      assert(hits == Set(1L, 2L), hits.toString)
      // name + explicit entries together: ambiguous, refused
      spark.conf.set(DictLoader.DictHomeKey, home.toString)
      val e2 = intercept[IllegalArgumentException] {
        DictLoader.resolveConfig(spark, FtsConfig(
          cjkDictionaryName = "minijieba", cjkDictionary = Seq("x:1")))
      }
      assert(e2.getMessage.contains("not both"), e2.getMessage)
    } finally spark.conf.unset(DictLoader.DictHomeKey)
  }

  test("morph segmenter reproduces published MeCab/Lindera segmentations") {
    import graft.operators.{Fts, FtsConfig, FtsTokenizer}
    import java.nio.file.Files
    // MeCab's canonical example (published in the MeCab docs with these
    // IPADIC word costs): すもももももももものうち →
    // すもも/も/もも/も/もも/の/うち. The path must beat both the
    // all-も particle chain (prt→prt connections are expensive) and the
    // もも/もも/もも noun chain (noun→noun compound penalty).
    val ipadic = Seq("すもも:7546:n", "もも:7219:n", "も:4669:prt",
      "の:4770:prt", "うち:5796:n")
    val morph = FtsConfig(baseTokenizer = "cjk", cjkDictionary = ipadic,
      cjkSegmenter = "morph", lowerCase = false)
    assert(FtsTokenizer.tokens("すもももももももものうち", morph)
      == Seq("すもも", "も", "もも", "も", "もも", "の", "うち"))
    // Lindera README example: the listed compound 関西国際空港 beats its
    // listed parts, and トートバッグ — absent from the lexicon — groups
    // as ONE unknown katakana run (MeCab unknown-word grouping), not
    // per-character debris
    val lexKix = Seq("関西国際空港:3000:n", "関西:4000:n", "国際:4000:n",
      "空港:4000:n", "限定:4000:n")
    val kix = FtsConfig(baseTokenizer = "cjk", cjkDictionary = lexKix,
      cjkSegmenter = "morph", lowerCase = false)
    assert(FtsTokenizer.tokens("関西国際空港限定トートバッグ", kix)
      == Seq("関西国際空港", "限定", "トートバッグ"))
    // mixed classes: noun, unknown katakana run, particle, verb
    val lexMix = Seq("東京:3000:n", "に:4700:prt", "行く:7000:v")
    val mix = FtsConfig(baseTokenizer = "cjk", cjkDictionary = lexMix,
      cjkSegmenter = "morph", lowerCase = false)
    assert(FtsTokenizer.tokens("東京タワーに行く", mix)
      == Seq("東京", "タワー", "に", "行く"))
    // ー continues a katakana unknown run
    assert(FtsTokenizer.tokens("スパーク", mix) == Seq("スパーク"))
    // unlisted kanji juxtaposition splits (no compound in the lexicon)
    assert(FtsTokenizer.tokens("関西空港", kix) == Seq("関西", "空港"))
    // lexicon + segmenter survive the on-disk round trip; query terms
    // segment exactly like the indexed corpus
    val corpus = Seq((1L, "関西国際空港限定トートバッグ"),
      (2L, "関西の空港")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("fts_cjk_morph_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir, config = kix)
    assert(Fts.loadConfig(spark, dir).cjkSegmenter == "morph")
    assert(Fts.loadConfig(spark, dir).cjkDictionary == lexKix)
    val hits = Fts.matchQuery(spark, dir, Seq("関西国際空港"), 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(hits == Set(1L),
      s"compound query must hit only the compound doc, got: $hits")
    val parts = Fts.matchQuery(spark, dir, Seq("空港"), 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(parts == Set(2L),
      s"part query must hit only the doc where the part is a token: $parts")
  }

  test("block-max WAND equals matchQuery exactly and prunes weak blocks") {
    // one doc per 1024-block: 5 strong docs (high tf, short dl), 195 weak
    val docs = (0 until 200).map { i =>
      val id = i * graft.operators.Fts.WandBlockSize
      val text =
        if (i < 5) ("quick " * 10) + "fox"
        else "quick " + ("filler words with no relevance whatsoever to anything " * 8)
      (id, text)
    }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("fts_wand_").toString
    Fts.buildIndex(docs, "doc_id", "text", dir)
    val exact = Fts.matchQuery(spark, dir, Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    // minPostings = 0 forces the WAND machinery on this small fixture (the
    // production floor would take the exhaustive path); trackPruned opts
    // into the observability counter
    val wand = Fts.matchQueryWand(spark, dir, Seq("quick", "fox"), 5, seedBlocks = 8,
        trackPruned = true, minPostings = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(wand == exact)
    assert(Fts.lastWandPruned.get() > 100,
      s"expected most weak blocks pruned, got ${Fts.lastWandPruned.get()}")
    // production floor: same query on the same index falls back to the
    // exhaustive path (tiny corpus) and stays exact
    val viaFloor = Fts.matchQueryWand(spark, dir, Seq("quick", "fox"), 5)
      .as[(Long, Double)].collect().toSeq
    assert(viaFloor == exact)
    assert(Fts.lastWandPruned.get() == 0L)
    // thin corpus (single block): falls back / stays exact
    val idx2 = buildTmpIndex()
    val e2 = Fts.matchQuery(spark, idx2, Seq("quick", "fox"), 5).as[(Long, Double)].collect().toSeq
    val w2 = Fts.matchQueryWand(spark, idx2, Seq("quick", "fox"), 5).as[(Long, Double)].collect().toSeq
    assert(w2 == e2)
  }

  test("WAND blockstats survive incremental optimize") {
    val docs1 = (0 until 50).map(i => (i * 1024L, "alpha beta gamma")).toDF("doc_id", "text")
    val docs2 = (50 until 100).map(i => (i * 1024L, "alpha delta")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("fts_wand_inc_").toString
    Fts.buildIndex(docs1, "doc_id", "text", dir)
    Fts.optimizeIndex(docs2, "doc_id", "text", dir)
    val exact = Fts.matchQuery(spark, dir, Seq("alpha", "delta"), 10).as[(Long, Double)].collect().toSeq
    val wand = Fts.matchQueryWand(spark, dir, Seq("alpha", "delta"), 10, seedBlocks = 12,
        minPostings = 0L)
      .as[(Long, Double)].collect().toSeq
    assert(wand == exact)
  }

  test("postings reads push the token predicate into the parquet scan") {
    val idx = buildTmpIndex()
    val plan = spark.read.parquet(s"$idx/postings")
      .filter(org.apache.spark.sql.functions.col("token").isin("quick", "fox"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(token"), plan)
  }

  test("FtsConfig JSON round-trip via the index sidecar") {
    import graft.operators.FtsConfig
    val cfg = FtsConfig(baseTokenizer = "ngram", lowerCase = true,
      asciiFolding = true, maxTokenLength = Some(12),
      stopWords = Seq("der", "die"), stemming = true,
      ngramMin = 2, ngramMax = 4, ngramPrefixOnly = true)
    val dir = Files.createTempDirectory("fts_rt_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir, config = cfg)
    assert(Fts.loadConfig(spark, dir) == cfg)
    // an index dir without a sidecar loads the default config
    val legacy = Files.createTempDirectory("fts_leg_").toString
    assert(Fts.loadConfig(spark, legacy) == FtsConfig())
  }

  test("optimizeIndex: incremental build equals full rebuild exactly") {
    val half1 = corpus.filter($"doc_id" <= 3)
    val half2 = corpus.filter($"doc_id" > 3)
    val incDir = Files.createTempDirectory("fts_inc_").toString
    Fts.buildIndex(half1, "doc_id", "text", incDir)
    Fts.optimizeIndex(half2, "doc_id", "text", incDir)
    val fullDir = buildTmpIndex()
    for (terms <- Seq(Seq("quick", "fox"), Seq("brown"), Seq("dog", "sleeps"))) {
      val inc = Fts.matchQuery(spark, incDir, terms, 5).as[(Long, Double)].collect().toSeq
      val full = Fts.matchQuery(spark, fullDir, terms, 5).as[(Long, Double)].collect().toSeq
      assert(inc.map(_._1) == full.map(_._1), s"doc order for $terms")
      inc.zip(full).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-12) }
    }
    // phrase positions survive the delta append
    assert(Fts.phraseQuery(spark, incDir, Seq("brown", "fox")).as[Long].collect().toSet ==
      Fts.phraseQuery(spark, fullDir, Seq("brown", "fox")).as[Long].collect().toSet)
  }

  test("segment merge bounds postings file growth; results byte-identical") {
    val dir = Files.createTempDirectory("fts_merge_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir)
    val postings = new org.apache.hadoop.fs.Path(s"$dir/postings")
    val fs = postings.getFileSystem(spark.sessionState.newHadoopConf())
    def nFiles(sub: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
        .count { s => val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") }
    // eight single-doc optimize cycles — each appends small delta segments
    for (i <- 6L to 13L)
      Fts.optimizeIndex(Seq((i, s"brown fox cycle $i")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    val before = Fts.matchQuery(spark, dir, Seq("brown", "fox"), 20)
      .as[(Long, Double)].collect().toSeq
    val filesBefore = nFiles("postings")
    // force a merge with a tight budget: delta files collapse into one
    // compact segment, base files untouched
    Fts.mergeDeltaSegments(spark, dir, maxDeltaFiles = 1)
    assert(nFiles("postings") < filesBefore,
      s"merge did not shrink postings: $filesBefore -> ${nFiles("postings")}")
    val after = Fts.matchQuery(spark, dir, Seq("brown", "fox"), 20)
      .as[(Long, Double)].collect().toSeq
    assert(after == before, "merge changed query results")
    // further optimizes keep working on the merged layout
    Fts.optimizeIndex(Seq((14L, "brown fox again")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(Fts.matchQuery(spark, dir, Seq("again"), 5)
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(14L))
  }

  test("segment merge recovers a crash between marker and swap (roll-forward)") {
    val dir = Files.createTempDirectory("fts_crash_").toString
    Fts.buildIndex(corpus, "doc_id", "text", dir)
    for (i <- 6L to 9L)
      Fts.optimizeIndex(Seq((i, s"brown fox cycle $i")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    Fts.mergeDeltaSegments(spark, dir, maxDeltaFiles = 16) // records base list
    val want = Fts.matchQuery(spark, dir, Seq("brown", "fox"), 20)
      .as[(Long, Double)].collect().toSeq
    // CRASH after the merge's seal, before any retired delta is deleted or
    // merged segment moved in
    graft.index.StagedSwap.TestHooks.at = pt =>
      if (pt == "after-seal") throw new IllegalStateException("crash")
    try intercept[IllegalStateException](Fts.mergeDeltaSegments(spark, dir, maxDeltaFiles = 1))
    finally graft.index.StagedSwap.TestHooks.at = _ => ()
    val stage = new org.apache.hadoop.fs.Path(s"$dir/_stage")
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(stage, "_SEALED")))
    // the next merge call finds the sealed stage and finishes it forward
    Fts.mergeDeltaSegments(spark, dir, maxDeltaFiles = 1000)
    assert(!fs.exists(stage), "stage consumed by recovery")
    val after = Fts.matchQuery(spark, dir, Seq("brown", "fox"), 20)
      .as[(Long, Double)].collect().toSeq
    assert(after == want, "recovered index scores identical (no duplicated postings)")
  }
}
