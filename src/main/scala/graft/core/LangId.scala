package graft.core

import java.util.Locale

/** Deterministic, dependency-free language identification.
  *
  * The reference uses fastText lid.176.ftz with a 0.6 probability floor
  * (`wordslab.nlptextdoc/NLPTextAnalyzer.cs:45-59,176-198`); that native
  * model is unavailable offline, so per SURVEY.md §7 the detector is
  * pluggable and this default is an offline-trainable classifier that is
  * stable across runs — parity tests pin this classifier (engine and
  * sequential oracle share it), they never depend on fastText outputs.
  *
  * The default model is a Cavnar–Trenkle character-n-gram profile
  * classifier ("N-Gram-Based Text Categorization", SDAIR 1994 — public
  * method): per language, the top-[[ProfileSize]] character 1..5-grams of
  * word-padded text ranked by frequency; classification is the
  * out-of-place rank-distance between the document's profile and each
  * language profile, with a normalized-distance floor standing in for the
  * reference's probability floor ("?" when no language is close enough).
  * Profiles train at class-load time on the embedded fixture corpora
  * below (parallel sample sentences written for this repo), so the model
  * ships as code — no files, no network, bit-stable across JVMs.
  *
  * Non-Latin scripts take a deterministic fast path: when most letters
  * belong to one non-Latin script, the text maps to that script's
  * dominant language (documented deviation: fastText distinguishes e.g.
  * ru/uk/bg within Cyrillic; the dominant-script map does not).
  */
object LangId {

  /** Profile length per Cavnar–Trenkle (300 in the paper). */
  val ProfileSize = 300

  /** Normalized out-of-place distance above which the best candidate is
    * rejected as "?" — the deterministic analog of fastText's P > 0.6
    * floor. Calibrated on the held-out fixtures of `LangIdSpec`
    * (CoreSpec.scala): real sentences in the trained languages score
    * 0.45–0.75 (short ones at the high end), random-keyboard gibberish
    * 0.80+.
    */
  val MaxNormDistance = 0.78

  /** Only the first chunk of a long text feeds the document profile —
    * 4 kB of characters saturates a 300-n-gram profile (C-T §4), so this
    * bounds per-block classify cost without changing results on long docs.
    */
  val MaxProfileChars = 4000

  // --- training corpora: parallel sample sentences (authored for this
  // repo; common function words + everyday vocabulary). Parallel content
  // keeps the profiles topic-neutral — they differ by language only. -----
  private val training: Map[String, String] = Map(
    "en" -> ("The quick brown fox jumps over the lazy dog while the children " +
      "were playing in the garden. This is not the first time that we have " +
      "seen such a thing happen here. People who live in this country often " +
      "say that the weather changes from one day to the next. She said that " +
      "they would come back when the work was finished. There are many " +
      "reasons why the government should not have done this. It was the " +
      "best of times and it was the worst of times. What do you think about " +
      "the new building near the station? Everyone knows that reading books " +
      "is one of the most important things for young students. He could not " +
      "remember where he had left his keys this morning. The history of " +
      "science shows that great discoveries are often made by accident."),
    "fr" -> ("Le chat noir dort sur le canapé pendant que les enfants jouent " +
      "dans le jardin. Ce n'est pas la première fois que nous voyons une " +
      "telle chose se produire ici. Les gens qui vivent dans ce pays disent " +
      "souvent que le temps change d'un jour à l'autre. Elle a dit qu'ils " +
      "reviendraient quand le travail serait terminé. Il y a beaucoup de " +
      "raisons pour lesquelles le gouvernement n'aurait pas dû faire cela. " +
      "C'était le meilleur des temps et c'était le pire des temps. Que " +
      "pensez-vous du nouveau bâtiment près de la gare? Tout le monde sait " +
      "que la lecture des livres est une des choses les plus importantes " +
      "pour les jeunes étudiants. Il ne pouvait pas se rappeler où il avait " +
      "laissé ses clés ce matin. L'histoire de la science montre que les " +
      "grandes découvertes sont souvent faites par hasard."),
    "de" -> ("Die schwarze Katze schläft auf dem Sofa während die Kinder im " +
      "Garten spielen. Es ist nicht das erste Mal dass wir so etwas hier " +
      "gesehen haben. Die Menschen die in diesem Land leben sagen oft dass " +
      "sich das Wetter von einem Tag auf den anderen ändert. Sie sagte dass " +
      "sie zurückkommen würden wenn die Arbeit beendet wäre. Es gibt viele " +
      "Gründe warum die Regierung das nicht hätte tun sollen. Es war die " +
      "beste Zeit und es war die schlimmste Zeit. Was denken Sie über das " +
      "neue Gebäude in der Nähe des Bahnhofs? Jeder weiß dass das Lesen von " +
      "Büchern eines der wichtigsten Dinge für junge Studenten ist. Er " +
      "konnte sich nicht erinnern wo er heute Morgen seine Schlüssel " +
      "gelassen hatte. Die Geschichte der Wissenschaft zeigt dass große " +
      "Entdeckungen oft durch Zufall gemacht werden."),
    "es" -> ("El gato negro duerme en el sofá mientras los niños juegan en " +
      "el jardín. No es la primera vez que vemos algo así aquí. La gente " +
      "que vive en este país dice a menudo que el tiempo cambia de un día " +
      "para otro. Ella dijo que volverían cuando el trabajo estuviera " +
      "terminado. Hay muchas razones por las que el gobierno no debería " +
      "haber hecho esto. Era el mejor de los tiempos y era el peor de los " +
      "tiempos. ¿Qué piensas del nuevo edificio cerca de la estación? Todo " +
      "el mundo sabe que la lectura de libros es una de las cosas más " +
      "importantes para los jóvenes estudiantes. No podía recordar dónde " +
      "había dejado sus llaves esta mañana. La historia de la ciencia " +
      "muestra que los grandes descubrimientos se hacen a menudo por " +
      "accidente."),
    "it" -> ("Il gatto nero dorme sul divano mentre i bambini giocano in " +
      "giardino. Non è la prima volta che vediamo una cosa del genere qui. " +
      "Le persone che vivono in questo paese dicono spesso che il tempo " +
      "cambia da un giorno all'altro. Ha detto che sarebbero tornati quando " +
      "il lavoro fosse finito. Ci sono molte ragioni per cui il governo non " +
      "avrebbe dovuto fare questo. Era il migliore dei tempi ed era il " +
      "peggiore dei tempi. Cosa pensi del nuovo edificio vicino alla " +
      "stazione? Tutti sanno che la lettura dei libri è una delle cose più " +
      "importanti per i giovani studenti. Non riusciva a ricordare dove " +
      "aveva lasciato le sue chiavi questa mattina. La storia della scienza " +
      "mostra che le grandi scoperte sono spesso fatte per caso."),
    "pt" -> ("O gato preto dorme no sofá enquanto as crianças brincam no " +
      "jardim. Não é a primeira vez que vemos uma coisa destas aqui. As " +
      "pessoas que vivem neste país dizem muitas vezes que o tempo muda de " +
      "um dia para o outro. Ela disse que eles voltariam quando o trabalho " +
      "estivesse terminado. Há muitas razões pelas quais o governo não " +
      "deveria ter feito isto. Era o melhor dos tempos e era o pior dos " +
      "tempos. O que você acha do novo edifício perto da estação? Todos " +
      "sabem que a leitura de livros é uma das coisas mais importantes " +
      "para os jovens estudantes. Ele não conseguia lembrar onde tinha " +
      "deixado as suas chaves esta manhã. A história da ciência mostra que " +
      "as grandes descobertas são muitas vezes feitas por acaso."),
    "nl" -> ("De zwarte kat slaapt op de bank terwijl de kinderen in de tuin " +
      "spelen. Het is niet de eerste keer dat we zoiets hier hebben gezien. " +
      "De mensen die in dit land wonen zeggen vaak dat het weer van de ene " +
      "dag op de andere verandert. Ze zei dat ze terug zouden komen wanneer " +
      "het werk klaar was. Er zijn veel redenen waarom de regering dit niet " +
      "had moeten doen. Het was de beste der tijden en het was de slechtste " +
      "der tijden. Wat vind je van het nieuwe gebouw bij het station? " +
      "Iedereen weet dat het lezen van boeken een van de belangrijkste " +
      "dingen voor jonge studenten is. Hij kon zich niet herinneren waar " +
      "hij vanochtend zijn sleutels had gelaten. De geschiedenis van de " +
      "wetenschap laat zien dat grote ontdekkingen vaak per ongeluk worden " +
      "gedaan."))

  /** Deterministic language order: ties in classification resolve to the
    * first (strictly-less comparison below).
    */
  private val langsOrdered = Vector("en", "fr", "de", "es", "it", "pt", "nl")

  // --- Cavnar–Trenkle machinery ------------------------------------------

  /** Character 1..5-gram counts of word-padded lowercase text ("_word_"),
    * per the paper's tokenization (digits and punctuation never enter a
    * gram; padding marks word boundaries).
    */
  private def ngramCounts(text: String, maxChars: Int): java.util.HashMap[String, Int] = {
    val counts = new java.util.HashMap[String, Int](1024)
    val slice = if (text.length > maxChars) text.substring(0, maxChars) else text
    val lower = slice.toLowerCase(Locale.ROOT)
    val word = new StringBuilder("_")
    def flush(): Unit = {
      if (word.length > 1) {
        word.append('_')
        val w = word.toString
        val len = w.length
        var n = 1
        while (n <= 5) {
          var i = 0
          while (i + n <= len) {
            val g = w.substring(i, i + n)
            counts.merge(g, 1, (a, b) => a + b)
            i += 1
          }
          n += 1
        }
      }
      word.setLength(1)
    }
    var i = 0
    while (i < lower.length) {
      val c = lower.charAt(i)
      if (Character.isLetter(c)) word.append(c) else flush()
      i += 1
    }
    flush()
    counts
  }

  /** Ranked n-gram profile (most frequent first, ties by gram text for
    * bit-stable profiles), truncated to [[ProfileSize]].
    */
  def profile(text: String, maxChars: Int = Int.MaxValue): Vector[String] = {
    val counts = ngramCounts(text, maxChars)
    val arr = new Array[(String, Int)](counts.size)
    val it = counts.entrySet().iterator()
    var i = 0
    while (it.hasNext) { val e = it.next(); arr(i) = (e.getKey, e.getValue); i += 1 }
    arr.sortBy { case (g, c) => (-c, g) }.iterator.take(ProfileSize)
      .map(_._1).toVector
  }

  /** gram → rank per language, trained once at class load. */
  private[graft] lazy val profiles: Vector[(String, java.util.HashMap[String, Integer])] =
    langsOrdered.map { lang =>
      val m = new java.util.HashMap[String, Integer](ProfileSize * 2)
      profile(training(lang)).zipWithIndex.foreach { case (g, r) => m.put(g, r) }
      (lang, m)
    }

  /** Out-of-place distance of a document profile against one language
    * profile, normalized to [0, 1]: per document gram, |docRank −
    * langRank|, missing grams cost the maximum ([[ProfileSize]]).
    */
  private[graft] def normDistance(docProf: Vector[String],
      langRanks: java.util.HashMap[String, Integer]): Double = {
    var dist = 0L
    var i = 0
    while (i < docProf.length) {
      val r = langRanks.get(docProf(i))
      dist += (if (r == null) ProfileSize else math.abs(i - r.intValue()))
      i += 1
    }
    dist.toDouble / (docProf.length.toLong * ProfileSize)
  }

  // --- non-Latin script fast path ------------------------------------------

  /** Dominant-script → language map for scripts where the script itself
    * identifies the (dominant) language. Deterministic; a coarser call
    * than fastText makes inside a script family (documented deviation).
    */
  private val scriptLang: Map[Character.UnicodeScript, String] = {
    import Character.UnicodeScript._
    Map(CYRILLIC -> "ru", GREEK -> "el", ARABIC -> "ar", HEBREW -> "he",
      HAN -> "zh", HIRAGANA -> "ja", KATAKANA -> "ja", HANGUL -> "ko",
      THAI -> "th", DEVANAGARI -> "hi", GEORGIAN -> "ka", ARMENIAN -> "hy")
  }

  /** Classify one text. "?" when fewer than 2 words or no trained language
    * profile is within [[MaxNormDistance]] (the probability-floor analog).
    */
  def detect(text: String): String = {
    if (text == null) return "?"
    // word floor first (reference behavior: too little signal → "?")
    var words = 0
    var inWord = false
    var li = 0
    var latinLetters = 0
    var otherLetters = 0
    val scriptCounts = new java.util.EnumMap[Character.UnicodeScript, Integer](
      classOf[Character.UnicodeScript])
    while (li < text.length) {
      val c = text.charAt(li)
      if (Character.isLetter(c)) {
        if (!inWord) { words += 1; inWord = true }
        val s = Character.UnicodeScript.of(c)
        if (s == Character.UnicodeScript.LATIN) latinLetters += 1
        else {
          otherLetters += 1
          scriptCounts.merge(s, 1, (a, b) => a + b)
        }
      } else inWord = false
      li += 1
    }
    if (words < 2 && otherLetters == 0) return "?"
    if (otherLetters > latinLetters) {
      // dominant non-Latin script decides
      var bestScript: Character.UnicodeScript = null
      var bestN = 0
      val it = scriptCounts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue > bestN) { bestN = e.getValue; bestScript = e.getKey }
      }
      return scriptLang.getOrElse(bestScript, "?")
    }
    val docProf = profile(text, MaxProfileChars)
    if (docProf.isEmpty) return "?"
    var bestLang = "?"
    var bestDist = Double.MaxValue
    profiles.foreach { case (lang, ranks) =>
      val d = normDistance(docProf, ranks)
      if (d < bestDist) { bestDist = d; bestLang = lang }
    }
    if (bestDist <= MaxNormDistance) bestLang else "?"
  }

  // --- previous default, kept for accuracy comparison ---------------------

  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "for",
      "was", "with", "are", "this", "have", "from", "not", "they", "his",
      "her", "you", "all", "were", "when", "there", "can", "been", "has",
      "more", "who", "will", "about", "which"),
    "fr" -> Set("le", "la", "les", "de", "des", "du", "et", "est", "en",
      "un", "une", "dans", "que", "qui", "pour", "sur", "avec", "pas",
      "par", "plus", "mais", "comme", "sont", "nous", "vous", "leur",
      "cette", "ces", "aux", "être", "fait", "était"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "den", "mit",
      "auf", "für", "nicht", "ein", "eine", "als", "auch", "aus", "bei",
      "nach", "wie", "wird", "sind", "oder", "zum", "zur", "über", "wenn",
      "aber", "noch", "werden", "einer"),
    "es" -> Set("el", "la", "los", "las", "de", "que", "en", "un", "una",
      "por", "con", "para", "del", "se", "su", "al", "es", "como", "más",
      "pero", "sus", "fue", "ser", "son", "entre", "está", "cuando",
      "hay", "este", "esta"))

  /** Round-1..5 default (stopword-hit ratio over en/fr/de/es). Its only
    * caller is test code: the `LangIdSpec` suite in CoreSpec.scala asserts
    * the n-gram model measurably beats it on the held-out fixtures.
    */
  def stopwordHeuristic(text: String): String = {
    val words = text.toLowerCase(Locale.ROOT).split("[^\\p{L}]+").filter(_.nonEmpty)
    if (words.length < 2) return "?"
    var bestLang = "?"
    var bestHits = 0
    Vector("en", "fr", "de", "es").foreach { lang =>
      val sw = stopwords(lang)
      var hits = 0
      words.foreach(w => if (sw.contains(w)) hits += 1)
      if (hits > bestHits) { bestHits = hits; bestLang = lang }
    }
    if (bestHits.toDouble / words.length >= 0.18) bestLang else "?"
  }
}
